"""Delimited-protobuf + zstd sink and source -- operators K1/K2 and their
inverse (SURVEY.md §2).

The reference serializes each Row with writeDelimitedTo into a
zstd-compressed stream, one output file per input SSTable, named
`<src>.proto.zst` (reference: Runner.java:114-156). Here:

* write_native_pb -- the CLI's `convert`: SSTables on disk straight to
  `.proto.zst`, in scan (token) order like the reference's loop. One
  Spark job with one task per pack of scan splits (pack_splits): a task
  drains each split's live-only Arrow batches (F1/F2 applied in the
  source) into the flat writer, which writes that split's part; the
  driver then publishes each sstable's parts in split order (zstd frames
  concatenate into one valid stream) and sums their metrics. Cells never
  enter the JVM: no row conversion, no exchange, no sort.
* write_cells_pb -- the sink for DataFrame inputs that carry no scan
  order (streaming foreachBatch, parquet-derived cells): the F1
  partition filter, repartition(sstable_id) + sortWithinPartitions
  (sstable_id, key, name, value, writeTime), then the same writer
  behind mapInArrow, rolling output files when sstable_id changes.
* _pb_flat_stream_writer -- the one writer both paths share: folds
  adjacent (sstable_id, key) runs of flat cells into Rows with the
  vectorized wire codec and pushes them into a zstd stream (pyarrow
  CompressedOutputStream -- standard zstd frames, readable by any zstd
  tool). Executor memory is O(one Arrow batch) + O(one row's encoded
  columns), never O(file). Both sinks report the per-file metrics the
  reference prints (M1: sizes, row counts, wall seconds,
  Runner.java:88-96). The decompressed stream equals, row for row,
  frame_row(encode_row(...)) of the per-row codec in
  tests/sstable_oracle.py -- the format's golden oracle.
* SSTablePbDataSource -- a Spark 4 Python DataSource ("sstable_pb"
  format) reading those files back: one input partition per file
  (file-parallel scan), lazy streaming decode on one span path for
  Rows of any size, nested Row schema.

Scale notes: convert's parallelism is the scan's -- a 50 GB sstable
plans into byte-range splits, each written as its own part with O(batch)
memory (pinned by tests/test_writer_memory.py), and the driver's commit
is a rename per single-split file or one sequential append of the later
parts per multi-split file, never a decode. write_cells_pb shuffles once
on sstable_id (the one-output-per-input contract forces
file==contiguous run within a task). Task-retry safety via
write-to-temp + atomic rename, in the parts and in the published file.
The source enumerates files driver-side but decodes entirely in
executors; a 100 TB run gets one task per file -- matching the
reference's unit of work, but parallel across the cluster instead of
sequential on one thread (Runner.java:56-59).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    ArrayType, BinaryType, LongType, StringType, StructField, StructType,
)

from cassandra_sstable_to_protocolbuf_spark import protowire

FILE_SUFFIX = ".proto.zst"

WRITE_METRICS_SCHEMA = StructType([
    StructField("sstable_id", StringType(), False),
    StructField("path", StringType(), False),
    StructField("n_rows", LongType(), False),
    StructField("n_cells", LongType(), False),
    StructField("raw_bytes", LongType(), False),
    StructField("compressed_bytes", LongType(), False),
    StructField("seconds", StringType(), False),
])

ROW_SCHEMA = StructType([
    StructField("sstable_id", StringType(), False),
    StructField("key", BinaryType(), False),
    StructField("columns", ArrayType(StructType([
        StructField("name", BinaryType(), False),
        StructField("value", BinaryType(), True),
        StructField("writeTime", LongType(), False),
    ])), False),
])


def _open_pb_file(out_dir: str, sstable_id: str) -> dict:
    """Open-file state for one sstable's `.proto.zst` output (temp file +
    zstd stream + running metrics)."""
    import pyarrow as pa

    final = os.path.join(out_dir, f"{sstable_id}-Data.db{FILE_SUFFIX}")
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    # compression=None: pa auto-detects .zst extensions and would
    # double-wrap the explicit codec layer
    raw_out = pa.output_stream(tmp, compression=None)
    return {"sstable_id": sstable_id, "final": final, "tmp": tmp,
            "raw_out": raw_out,
            "zout": pa.CompressedOutputStream(raw_out, "zstd"),
            "n_rows": 0, "n_cells": 0, "raw": 0,
            "t0": time.perf_counter()}


def _close_pb_file(st: dict) -> dict:
    """Finish + atomically publish one output file; returns its metrics."""
    st["zout"].close()
    st["raw_out"].close()
    os.replace(st["tmp"], st["final"])
    return {
        "sstable_id": st["sstable_id"],
        "path": st["final"],
        "n_rows": st["n_rows"],
        "n_cells": st["n_cells"],
        "raw_bytes": st["raw"],
        "compressed_bytes": os.path.getsize(st["final"]),
        "seconds": f"{time.perf_counter() - st['t0']:.3f}",
    }


def _abort_pb_file(st: dict | None) -> None:
    """Failed-task cleanup: drop the temp file; published files (already
    atomically renamed) are never touched."""
    if st is None:
        return
    for h in ("zout", "raw_out"):
        try:
            st[h].close()
        except OSError:
            pass
    try:
        os.unlink(st["tmp"])
    except FileNotFoundError:
        pass


def _pb_flat_stream_writer(out_dir: str, max_cells: int | None = None):
    """Writer function factory: consume an ITERATOR of Arrow batches of
    FLAT cells (sstable_id, key, live, name, value, writeTime; other
    columns are ignored) in which each (sstable_id, key) run is
    contiguous -- sorted by write_cells_pb, in scan order from
    write_native_pb -- fold adjacent (sstable_id, key) runs into
    delimited-protobuf Rows, and roll to a new `.proto.zst` when
    sstable_id changes. No per-cell Python objects: run detection, live
    filtering and wire layout are Arrow/numpy kernels over the batch's
    buffers, and the decompressed output equals the oracle's per-row
    frame_row(encode_row(...)) (tests/sstable_oracle.py). Dead cells (live=false: dead cells of
    write_cells_pb's input, the native scan's PARTITION markers) are
    dropped per-cell but still mark their (sstable_id, key) run, so a
    live partition whose cells are ALL filtered still emits its Row.

    A (sstable_id, key) run may span batches: the unfinished tail run is
    accumulated as ENCODED column bytes (encode_columns_bufs) and framed
    when the run ends (frame_row_parts), so peak memory is O(one Arrow
    batch) + O(one row's encoded columns), with a loud failure past
    `max_cells` (operators.projection.MAX_CELLS_PER_ROW)."""
    from cassandra_sstable_to_protocolbuf_spark.operators.projection import (
        MAX_CELLS_PER_ROW)

    if max_cells is None:
        max_cells = MAX_CELLS_PER_ROW

    def write_stream(batches):
        import base64

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        metrics_schema = to_arrow_schema(WRITE_METRICS_SCHEMA)

        def too_wide(key, n):
            return ValueError(
                f"partition {base64.b64encode(key).decode()} has {n} "
                f"surviving cells, over the nested-Row cap of {max_cells};"
                " raise max_cells deliberately or use the flat cell "
                "surface, which streams in O(cell) memory")

        state = None   # open-file state for the current sstable_id
        pend = None    # unfinished tail run: {"key", "chunks", "n"};
        #                always belongs to the currently open file
        done: list[dict] = []   # closed-file metrics not yet yielded

        def roll_to(sid):
            nonlocal state
            if state is None or state["sstable_id"] != sid:
                if state is not None:
                    done.append(_close_pb_file(state))
                state = _open_pb_file(out_dir, sid)

        def flush_pend():
            nonlocal pend
            block = protowire.frame_row_parts(
                pend["key"], b"".join(pend["chunks"]))
            state["zout"].write(block)
            state["n_rows"] += 1
            state["n_cells"] += pend["n"]
            state["raw"] += len(block)
            pend = None

        def metrics_batch(rows):
            return pa.RecordBatch.from_pylist(rows, schema=metrics_schema)

        try:
            for b in batches:
                n = b.num_rows
                if not n:
                    continue
                col = {name: b.column(i)
                       for i, name in enumerate(b.schema.names)}
                sid_arr, key_arr = col["sstable_id"], col["key"]
                name_arr, value_arr = col["name"], col["value"]
                live_np = col["live"].to_numpy(zero_copy_only=False)
                wts_np = col["writeTime"].to_numpy()
                if n > 1:
                    same_sid = np.asarray(pc.equal(
                        sid_arr.slice(1), sid_arr.slice(0, n - 1)))
                    same_key = np.asarray(pc.equal(
                        key_arr.slice(1), key_arr.slice(0, n - 1)))
                    starts = np.flatnonzero(~(same_sid & same_key)) + 1
                    sid_starts = np.flatnonzero(~same_sid) + 1
                else:
                    starts = sid_starts = np.empty(0, dtype=np.int64)
                bnds = np.concatenate(
                    ([0], starts, [n])).astype(np.int64)

                def extend_pend(s, e):
                    mask = live_np[s:e]
                    nn = int(mask.sum())
                    if nn:
                        if pend["n"] + nn > max_cells:
                            raise too_wide(pend["key"], pend["n"] + nn)
                        mask_pa = pa.array(mask)
                        pend["chunks"].append(protowire.encode_columns_bufs(
                            name_arr.slice(s, e - s).filter(mask_pa),
                            value_arr.slice(s, e - s).filter(mask_pa),
                            wts_np[s:e][mask]))
                        pend["n"] += nn

                # does the batch's first run continue the pending row?
                lo_seg = 0
                if pend is not None:
                    if (state["sstable_id"] == sid_arr[0].as_py()
                            and pend["key"] == key_arr[0].as_py()):
                        extend_pend(0, int(bnds[1]))
                        if len(bnds) == 2:
                            continue  # whole batch extends the run
                        flush_pend()
                        lo_seg = 1
                    else:
                        flush_pend()

                # vectorized complete rows, split per sstable run so the
                # file rolls at the right boundaries
                a, z = int(bnds[lo_seg]), int(bnds[-2])
                if a < z:
                    region_starts = bnds[lo_seg:-2]
                    cuts = sid_starts[(sid_starts > a) & (sid_starts < z)]
                    chunk_bnds = np.concatenate(([a], cuts, [z]))
                    for ci in range(len(chunk_bnds) - 1):
                        p, q = int(chunk_bnds[ci]), int(chunk_bnds[ci + 1])
                        roll_to(sid_arr[p].as_py())
                        lo = np.searchsorted(region_starts, p, "left")
                        hi = np.searchsorted(region_starts, q, "left")
                        rstarts = region_starts[lo:hi]
                        mask = live_np[p:q]
                        counts = np.add.reduceat(
                            mask.astype(np.int64), rstarts - p)
                        wide = int(counts.max(initial=0))
                        if wide > max_cells:
                            k = key_arr[
                                int(rstarts[int(np.argmax(counts))])
                            ].as_py()
                            raise too_wide(k, wide)
                        mask_pa = pa.array(mask)
                        block = protowire.encode_rows_block_bufs(
                            pc.take(key_arr, pa.array(rstarts)), counts,
                            name_arr.slice(p, q - p).filter(mask_pa),
                            value_arr.slice(p, q - p).filter(mask_pa),
                            wts_np[p:q][mask])
                        state["zout"].write(block)
                        state["n_rows"] += len(rstarts)
                        state["n_cells"] += int(mask.sum())
                        state["raw"] += len(block)

                # the tail run may continue into the next batch
                t = int(bnds[-2])
                roll_to(sid_arr[t].as_py())
                pend = {"key": key_arr[t].as_py(), "chunks": [], "n": 0}
                extend_pend(t, n)

                if done:
                    yield metrics_batch(done)
                    done.clear()
            if pend is not None:
                flush_pend()
            if state is not None:
                done.append(_close_pb_file(state))
                state = None
            if done:
                yield metrics_batch(done)
        except BaseException:
            _abort_pb_file(state)
            raise

    return write_stream


def write_cells_pb(cells_binary: DataFrame, out_dir: str) -> DataFrame:
    """K1 sink from FLAT binary cells that carry no scan order (streaming
    micro-batches, parquet-derived cells); SSTables on disk go through
    write_native_pb instead. The F1 partition filter, ONE exchange
    (repartition by sstable_id) and a within-partition sort by
    (sstable_id, key, name, value, writeTime); the writer folds adjacent
    (sstable_id, key) runs into Rows. Each file's decompressed stream
    equals the per-row oracle's frame_row(encode_row(key, cols)) over
    the live rows in key order -- pinned by the golden tests. Rows are
    written in ascending key-byte order within each file: cells without
    a source file have no token order to keep, so the sort fixes one.

    Parity quirk preserved: dead cells of live partitions ship as
    (sstable_id, key) markers with NULLed payload (near-zero shuffle
    bytes) so a live partition whose cells are ALL filtered out still
    emits its Row with an empty columns list (reference:
    service/SSTableReader.java:87-109). The within-partition sort orders
    each Row's cells by (name, value, writeTime), NULLs first."""
    from cassandra_sstable_to_protocolbuf_spark.operators.tombstones import (
        live_cell_predicate, partition_live_predicate)

    os.makedirs(out_dir, exist_ok=True)
    live = live_cell_predicate()
    flat = (cells_binary
            .filter(partition_live_predicate())
            .select("sstable_id", "key", live.alias("live"),
                    F.when(live, F.col("name")).alias("name"),
                    F.when(live, F.col("value")).alias("value"),
                    F.when(live, F.col("writeTime")).otherwise(F.lit(0))
                     .cast("long").alias("writeTime")))
    return (flat
            .repartition("sstable_id")
            .sortWithinPartitions("sstable_id", "key", "name", "value",
                                  "writeTime")
            .mapInArrow(_pb_flat_stream_writer(out_dir),
                        WRITE_METRICS_SCHEMA))


def _native_split_writer(reader, parts_root: str):
    """flatMap function over one pack of (split index, split) pairs
    (pack_splits): for each split, drain the reader's decode
    (reader._decode_split) -- live-only batches in scan order, F1/F2
    applied by the source -- add the writer's `live` flag (PARTITION
    markers are the only non-LIVE rows) and write the split's part into
    <parts_root>/<split index>/. Yields one record per written file (the
    writer's metrics plus `split`). An exception aborts the split's temp
    file, so a failed split leaves no part; FAILFAST raises it, and
    PERMISSIVE (the reader's mode) yields one error record for the
    split's sstable and goes on to the pack's next split, as the
    reference's loop goes on past a failed file (Runner.java:84-87)."""

    def run(pack):
        import pyarrow.compute as pc

        for idx, split in pack:
            part_dir = os.path.join(parts_root, str(idx))
            try:
                os.mkdir(part_dir)  # never recreates a removed parts_root
            except FileExistsError:
                pass  # a retried task overwrites its own part
            batches = (b.append_column(
                "live", pc.equal(b.column("cell_kind"), "LIVE"))
                for b in reader._decode_split(split))
            try:
                for m in _pb_flat_stream_writer(part_dir)(batches):
                    for rec in m.to_pylist():
                        yield {**rec, "split": idx}
            except Exception as e:  # noqa: BLE001 -- error channel
                if not reader.permissive:
                    raise
                yield {"sstable_id": split.sstable_id, "split": idx,
                       "error": str(e)[:500]}

    return run


def _commit_parts(records: list[dict], data_paths: dict[str, str],
                  out_dir: str) -> tuple[list[dict], dict[str, str]]:
    """Driver-side publish of write_native_pb's parts for the inputs in
    data_paths ({sstable_id: planned Data.db path}): per sstable, its
    parts in split order -- one part is renamed into place, several are
    concatenated (the later parts appended to the first, then renamed;
    zstd frames concatenate into one valid stream) -- with rows, cells,
    raw bytes and writer seconds summed. An sstable with no part gets an
    empty stream, as the reference opens an output per input even when
    nothing is live (Runner.java:75-82). An sstable with an error record
    gets no output. Returns (metrics sorted by sstable_id, each with its
    input's `data_path`; {sstable_id: first error message})."""
    records = sorted(records, key=lambda r: r["split"])
    errors: dict[str, str] = {}
    parts: dict[str, list[dict]] = {}
    for r in records:
        if "error" in r:
            errors.setdefault(r["sstable_id"], r["error"])
        else:
            parts.setdefault(r["sstable_id"], []).append(r)
    metrics = []
    for sid in sorted(set(data_paths) - set(errors)):
        ps = parts.get(sid)
        if not ps:
            metrics.append({**_close_pb_file(_open_pb_file(out_dir, sid)),
                            "data_path": data_paths[sid]})
            continue
        final = os.path.join(out_dir, f"{sid}-Data.db{FILE_SUFFIX}")
        head = ps[0]["path"]
        if len(ps) > 1:
            with open(head, "ab") as dst:
                for p in ps[1:]:
                    with open(p["path"], "rb") as src:
                        shutil.copyfileobj(src, dst, 1 << 20)
        os.replace(head, final)
        metrics.append({
            "sstable_id": sid, "path": final,
            "n_rows": sum(p["n_rows"] for p in ps),
            "n_cells": sum(p["n_cells"] for p in ps),
            "raw_bytes": sum(p["raw_bytes"] for p in ps),
            "compressed_bytes": os.path.getsize(final),
            "seconds": f"{sum(float(p['seconds']) for p in ps):.3f}",
            "data_path": data_paths[sid],
        })
    return metrics, errors


def write_native_pb(spark, input_path: str, out_dir: str,
                    permissive: bool = False
                    ) -> tuple[list[dict], dict[str, str]]:
    """K1 sink straight from SSTables on disk, in scan order: the CLI's
    convert. The driver plans the live-only native scan; ONE Spark job
    runs one task per pack of consecutive splits (pack_splits, the
    DataSource's task plan), each writing its splits' parts under
    <out_dir>/_parts (_native_split_writer); the driver then publishes
    every sstable's `<id>-Data.db.proto.zst` (_commit_parts). Rows come
    out in token order and each Row's cells in on-disk clustering order,
    as the reference emits them. Plain-scan splits start and end on
    partition boundaries, so no Row spans two parts.

    FAILFAST (default): a corrupt split fails the job, and the call
    raises with nothing published. permissive=True plans the reader
    PERMISSIVE: a file whose plan or any split reports corruption gets no
    output and one entry in the returned errors, and every other file
    converts. Returns (metrics, errors) -- per-file metrics dicts in
    WRITE_METRICS_SCHEMA's fields plus the input's planned `data_path`,
    sorted by sstable_id, one for each input without an error;
    {sstable_id: message}. `_parts` is removed before the job and again
    when the call ends, whatever the outcome.
    The job is described as `convert <n> files` in Spark's UI and status
    store; the caller's job description (and job group) stand again
    afterwards."""
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        SSTableNativeReader, pack_splits)

    sc = spark.sparkContext
    reader = SSTableNativeReader(input_path, None, live_only=True,
                                 permissive=permissive,
                                 scan_parallelism=sc.defaultParallelism)
    splits = reader.partitions()
    paths: dict[str, str] = {}
    for s in splits:
        if paths.setdefault(s.sstable_id, s.data_path) != s.data_path:
            raise ValueError(
                f"duplicate sstable basename {s.sstable_id!r}: "
                f"{paths[s.sstable_id]} vs {s.data_path}; outputs are "
                f"named by basename and would collide")
    os.makedirs(out_dir, exist_ok=True)
    parts_root = os.path.join(out_dir, "_parts")
    shutil.rmtree(parts_root, ignore_errors=True)
    os.mkdir(parts_root)
    caller_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"convert {len(paths)} files")
    try:
        packs = pack_splits(splits, reader.scan_parallelism)
        records = (sc.parallelize(packs, len(packs))
                   .flatMap(_native_split_writer(reader, parts_root))
                   .collect()) if packs else []
        return _commit_parts(records, paths, out_dir)
    finally:
        sc.setLocalProperty("spark.job.description", caller_desc)
        shutil.rmtree(parts_root, ignore_errors=True)


class _PbFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class SSTablePbReader(DataSourceReader):
    def __init__(self, path: str):
        self.path = path

    def partitions(self):
        import glob

        if os.path.isdir(self.path):
            # recursive, like the native source's -Data.db discovery
            # (Runner.java walks; streaming sinks nest batch=N subdirs)
            files = sorted(glob.glob(
                os.path.join(self.path, f"**/*{FILE_SUFFIX}"), recursive=True))
        elif os.path.exists(self.path):
            files = [self.path]
        else:
            # fail at PLANNING like the native source, not with an
            # opaque open() error inside an executor task
            files = []
        if not files:
            raise FileNotFoundError(f"no {FILE_SUFFIX} files under {self.path}")
        return [_PbFilePartition(p) for p in files]

    ARROW_BATCH_ROWS = 4096

    def read(self, partition) -> Iterator:
        """Yield pyarrow.RecordBatch chunks (Arrow columnar handoff to
        the JVM) straight from the vectorized span decoder
        (protowire.iter_decoded_batches): one offset-only walk per
        buffered region, every binary column gathered by Arrow's take
        -- rows never exist as Python dicts. One path for Rows of any
        size: buffering is O(largest Row + read chunk) regardless of
        file size; decode semantics identical to the oracle's
        decode_row (any field order, last-wins, loud unknown tags),
        pinned by the protowire parity sweep."""
        import pyarrow as pa

        fname = os.path.basename(partition.path)
        sstable_id = fname[:-len(FILE_SUFFIX)].removesuffix("-Data.db")
        with pa.input_stream(partition.path, compression=None) as raw, \
                pa.CompressedInputStream(raw, "zstd") as zin:
            yield from protowire.iter_decoded_batches(
                zin, sstable_id, batch_rows=self.ARROW_BATCH_ROWS)


class SSTablePbDataSource(DataSource):
    """spark.read.format("sstable_pb").load(dir_or_file)"""

    @classmethod
    def name(cls) -> str:
        return "sstable_pb"

    def schema(self):
        return ROW_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("sstable_pb requires a load path")
        return SSTablePbReader(path)


_REGISTERED: set = set()


def register(spark) -> None:
    # memoized per session: re-registering re-pickles and re-ships the
    # DataSource class on every call (same rationale as sstable_native)
    key = spark.sparkContext.applicationId
    if key in _REGISTERED:
        return
    spark.dataSource.register(SSTablePbDataSource)
    _REGISTERED.add(key)


def read_rows_pb(spark, path: str) -> DataFrame:
    register(spark)
    return spark.read.format("sstable_pb").load(path)
