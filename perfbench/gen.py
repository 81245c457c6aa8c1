"""Seeded SSTable inputs for the benchmark and the model of their output.

Inputs are written through the engine's public SSTableStreamWriter, so
they are the files the converter reads in production, never a shortcut
around its reader.  Alongside them the generator keeps its own model of
the reference converter's live rule (Runner.java / SSTableReader.java):

* a partition with a partition tombstone produces no Row;
* DELETED, EXPIRING (expired or not), COUNTER and range-tombstone atoms
  are dropped, only LIVE cells are kept;
* a live partition whose cells are all dropped still produces an empty
  Row;
* a file whose partitions are all deleted produces an empty output file.

The model is (rows, cells, digest) per input file, computed with
check.RowSetDigest, plus the count of atoms on disk.  Generation happens
outside every timed region and is cached per (workload, seed, generator
digest) under the work directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct

import numpy as np

from perfbench.check import RowSetDigest

# Workload shapes.  Sizes are chosen so that one warm conversion takes a
# few seconds on a 4-core host: enough conversions fit in one measured
# run for a steady median, and every workload stays far inside the
# engine's own limits (FAST_SCAN_PARTITION_CAP = 64 MiB of buffered
# partition, MAX_CELLS_PER_ROW = 1,000,000 cells per Row).
WORKLOADS = {
    # the paper's shape: many small partitions of ~5 short cells, LZ4,
    # about a third of the atoms dead
    "narrow": {"files": 8, "partitions": 20_000, "mean_cells": 5,
               "compression": "lz4", "deleted_partitions": 0.08,
               "range_tombstones": 0.01,
               "kinds": {"LIVE": 0.72, "DELETED": 0.12, "EXPIRING": 0.08,
                         "COUNTER": 0.08},
               "value_bytes": (4, 24)},
    # the time-series shape: sixteen partitions of 10k ~0.5-1 KB
    # semi-compressible values (~8 MB each), LZ4; rows span the writer's
    # Arrow batches.  Eight equal files keep both Spark stages in whole
    # waves on 4 cores
    "wide": {"files": 8, "partitions": 2, "cells_per_partition": 10_000,
             "compression": "lz4", "deleted_partitions": 0.0,
             "range_tombstones": 0.0,
             "kinds": {"LIVE": 0.95, "DELETED": 0.0, "EXPIRING": 0.05,
                       "COUNTER": 0.0},
             "value_bytes": (512, 1024)},
    # per-file fixed costs: sixty small uncompressed files, about half
    # their atoms dead, a tenth of the files entirely deleted.  Not in
    # BENCHMARK.json (see README.md); it runs by hand
    "many_files": {"files": 60, "partitions": 40, "mean_cells": 4,
                   "compression": None, "deleted_partitions": 0.25,
                   "dead_files": 0.10, "range_tombstones": 0.05,
                   "kinds": {"LIVE": 0.6, "DELETED": 0.2, "EXPIRING": 0.1,
                             "COUNTER": 0.1},
                   "value_bytes": (4, 32)},
}

_KINDS = ("LIVE", "DELETED", "EXPIRING", "COUNTER")
_KIND_CODE = {"LIVE": 0, "DELETED": 1, "EXPIRING": 2, "COUNTER": 3}
_TS_BASE = 1_600_000_000_000_000     # microseconds, as Cassandra writes them
_LDT = 1_600_000_000                 # local deletion time, seconds
_POOL_BYTES = 1 << 20
# a ten-seed series per workload reuses its inputs without regenerating
CACHED_SETS = 10


def generator_digest() -> str:
    """Identity of the generated bytes: this file plus the engine modules
    that lay the bytes out on disk."""
    import cassandra_sstable_to_protocolbuf_spark.sources.cellcodec as cc
    import cassandra_sstable_to_protocolbuf_spark.sources.sstable_native as sn

    h = hashlib.sha256()
    for path in (__file__, sn.__file__, cc.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _word_pool(rng: np.random.Generator) -> bytes:
    """Text-like bytes: random words from a small vocabulary, so values
    compress part way under both LZ4 (repeats) and zstd (entropy)."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789",
                            dtype=np.uint8)
    vocab = [bytes(letters[rng.integers(0, len(letters),
                                        int(rng.integers(3, 10)))])
             for _ in range(512)]
    words = rng.integers(0, len(vocab), _POOL_BYTES // 4)
    return b" ".join(vocab[w] for w in words)[:_POOL_BYTES]


_NAME_TABLE = [b"c%02d" % i for i in range(64)]


def _file_cells(rng, spec: dict, file_no: int, dead_file: bool,
                pool: bytes) -> dict:
    """Columnar contents of one file: per-partition arrays (keys in
    decorated md5-token order) and flat per-cell arrays."""
    n_parts = spec["partitions"]
    keys = sorted((b"f%03d:p%07d" % (file_no, i) for i in range(n_parts)),
                  key=lambda k: (hashlib.md5(k).digest(), k))
    wide = "cells_per_partition" in spec
    if wide:
        counts = np.full(n_parts, spec["cells_per_partition"], np.int64)
    else:
        counts = np.minimum(rng.poisson(spec["mean_cells"], n_parts), 24)
    n = int(counts.sum())
    starts = np.zeros(n_parts + 1, np.int64)
    np.cumsum(counts, out=starts[1:])
    pos = np.arange(n, dtype=np.int64) - np.repeat(starts[:-1], counts)
    if wide:
        # clustering names are ascending 8-byte timestamps
        ts0 = _TS_BASE + rng.integers(0, 1 << 30, n_parts)
        stamps = np.repeat(ts0, counts) + pos * 1000
        raw = stamps.astype(">i8").tobytes()
        names = [raw[8 * i:8 * i + 8] for i in range(n)]
    else:
        # ascending unique short names per partition: c{first + j*step}
        first = np.repeat(rng.integers(0, 8, n_parts), counts)
        step = np.repeat(rng.integers(1, 3, n_parts), counts)
        names = [_NAME_TABLE[s] for s in (first + pos * step).tolist()]
        stamps = _TS_BASE + rng.integers(0, 1 << 40, n)
    probs = np.array([spec["kinds"][k] for k in _KINDS])
    kinds = rng.choice(4, n, p=probs / probs.sum()).astype(np.int8)
    lo, hi = spec["value_bytes"]
    lens = rng.integers(lo, hi + 1, n)
    # ~2% empty values: proto3 omits them, the model must not care
    lens[rng.random(n) < 0.02] = 0
    offs = rng.integers(0, len(pool) - hi, n)
    values = [pool[o:o + ln] for o, ln in zip(offs.tolist(), lens.tolist())]
    deleted = (np.ones(n_parts, bool) if dead_file
               else rng.random(n_parts) < spec["deleted_partitions"])
    with_rt = (rng.random(n_parts) < spec["range_tombstones"]) & (counts > 0)
    return {"keys": keys, "starts": starts, "deleted": deleted,
            "with_rt": with_rt, "names": names, "kinds": kinds,
            "stamps": np.asarray(stamps, np.int64), "values": values}


def _disk_columns(kinds: np.ndarray, values: list):
    """The writer's flat-cell convention: DELETED cells carry their packed
    local deletion time as the value; EXPIRING/COUNTER carry a prefix."""
    deleted_body = struct.pack(">i", _LDT)
    expiring = struct.pack(">ii", 3600, _LDT + 3600)
    counter = struct.pack(">q", _TS_BASE)
    disk_values = list(values)
    prefixes = [b""] * len(values)
    for i in np.flatnonzero(kinds != _KIND_CODE["LIVE"]).tolist():
        k = kinds[i]
        if k == _KIND_CODE["DELETED"]:
            disk_values[i] = deleted_body
        elif k == _KIND_CODE["EXPIRING"]:
            prefixes[i] = expiring
        else:
            prefixes[i] = counter
    return disk_values, prefixes


def _write_file(out_dir: str, generation: int, workload: str, spec: dict,
                fc: dict) -> dict:
    """Write one sstable; returns its model entry."""
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        SSTableStreamWriter)

    keys, starts, names = fc["keys"], fc["starts"], fc["names"]
    kinds, stamps, values = fc["kinds"], fc["stamps"], fc["values"]
    disk_values, prefixes = _disk_columns(kinds, values)
    deletions = [(_LDT, _TS_BASE + i) if d else None
                 for i, d in enumerate(fc["deleted"].tolist())]
    w = SSTableStreamWriter(out_dir, generation, ks="bench", cf=workload,
                            compression=spec["compression"])

    def write_block(p, q):
        # complete partitions [p, q) in one vectorized block
        if p < q:
            a, b = int(starts[p]), int(starts[q])
            w.write_partitions_block(
                keys[p:q], deletions[p:q], np.diff(starts[p:q + 1]),
                names[a:b], kinds[a:b], stamps[a:b], disk_values[a:b],
                prefixes[a:b])

    try:
        p = 0
        for r in np.flatnonzero(fc["with_rt"]).tolist():
            # range tombstones go through the per-partition API (the
            # block writer takes cells only); the reference skips
            # non-Column atoms without applying them, so the cells they
            # cover stay live
            write_block(p, r)
            a, b = int(starts[r]), int(starts[r + 1])
            w.start_partition(keys[r], deletions[r])
            w.add_range_tombstone(names[a], names[b - 1] + b"\xff",
                                  _LDT, _TS_BASE)
            w.add_cells_batch(names[a:b], kinds[a:b], stamps[a:b],
                              disk_values[a:b], prefixes[a:b])
            w.end_partition()
            p = r + 1
        write_block(p, len(keys))
        data_path = w.close()
    except BaseException:
        w.abort()
        raise
    digest = RowSetDigest()
    live = (kinds == _KIND_CODE["LIVE"]).tolist()
    st = starts.tolist()
    for i, d in enumerate(deletions):
        if d is None:
            digest.add(keys[i], [(names[j], values[j], int(stamps[j]))
                                 for j in range(st[i], st[i + 1])
                                 if live[j]])
    return {"sstable_id": os.path.basename(data_path)[:-len("-Data.db")],
            "data_bytes": os.path.getsize(data_path),
            "atoms": len(names) + int(fc["with_rt"].sum()),
            **digest.summary()}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's sstables into out_dir; return the model."""
    spec = WORKLOADS[workload]
    rng = np.random.default_rng(
        [seed, int.from_bytes(workload.encode(), "big") % (1 << 32)])
    pool = _word_pool(rng)
    n_files = spec["files"]
    dead = np.zeros(n_files, bool)
    n_dead = round(n_files * spec.get("dead_files", 0.0))
    dead[rng.choice(n_files, n_dead, replace=False)] = True
    files = {}
    for f in range(n_files):
        fc = _file_cells(rng, spec, f, bool(dead[f]), pool)
        entry = _write_file(out_dir, f + 1, workload, spec, fc)
        files[entry.pop("sstable_id")] = entry
    return {"workload": workload, "seed": seed, "files": files}


def input_sha256(input_dir: str) -> str:
    """sha256 over every input file's name and bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(input_dir)):
        if name == "model.json":
            continue
        h.update(name.encode() + b"\0")
        with open(os.path.join(input_dir, name), "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def cached_inputs(work_dir: str, workload: str,
                  seed: int) -> tuple[str, dict]:
    """(input_dir, model), generating on a cache miss.  At most
    CACHED_SETS input sets per workload stay cached; older ones are
    removed."""
    root = os.path.join(work_dir, "inputs")
    os.makedirs(root, exist_ok=True)
    name = f"{workload}-s{seed}-{generator_digest()}"
    final = os.path.join(root, name)
    model_path = os.path.join(final, "model.json")
    if not os.path.exists(model_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        model = generate(workload, seed, tmp)
        with open(os.path.join(tmp, "model.json"), "w") as f:
            json.dump(model, f)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    os.utime(final)
    others = sorted((os.path.join(root, d) for d in os.listdir(root)
                     if d.startswith(f"{workload}-s") and d != name),
                    key=os.path.getmtime)
    for stale in others[:max(len(others) - (CACHED_SETS - 1), 0)]:
        shutil.rmtree(stale, ignore_errors=True)
    with open(model_path) as f:
        return final, json.load(f)
