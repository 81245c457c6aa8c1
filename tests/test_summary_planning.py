"""-Summary.db component + sampled split planning (S3).

Reference parity (SSTableReaderPatched.java:123-211): a reader prefers a
saved summary, rebuilds by streaming the primary index when the summary
is absent, and deletes-then-rebuilds when it is corrupt; point lookups
use the summary to land "at most indexInterval keys away"
(getIndexScanPosition, :222-237).  Round 2's planning materialized the
whole Index.db on the driver -- O(total index bytes) at 100 TB; these
tests pin the O(entries/N) posture that replaced it.
"""

from __future__ import annotations

import os
import struct

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from tests.sstable_oracle import read_rows, write_sstable


def _mk(dir_path, n_parts, gen=1, **kw):
    parts = [{"key": b"key-%06d" % i, "cells": [
        {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}
        for i in range(n_parts)]
    return write_sstable(str(dir_path), gen, parts, **kw)


def _scan_keys(reader):
    return [row[1] for row in read_rows(reader) if row[5] == "PARTITION"]


def test_summary_written_sampled_and_loadable(tmp_path):
    data = _mk(tmp_path, 300)
    s = N.read_summary(data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX)
    assert s["interval"] == N.DEFAULT_INDEX_INTERVAL
    # entries 0, 128, 256 sampled (IndexSummaryBuilder.maybeAddEntry)
    assert len(s["entries"]) == 3
    idx = N.read_index(data[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX)
    assert [e[0] for e in s["entries"]] == [idx[0][0], idx[128][0], idx[256][0]]
    assert [e[2] for e in s["entries"]] == [idx[0][1], idx[128][1], idx[256][1]]
    assert s["first"] == idx[0][0] and s["last"] == idx[-1][0]


def test_full_scan_planning_never_opens_index_with_summary(tmp_path, monkeypatch):
    """When a valid summary exists and the split size is a multiple of
    its interval, boundary planning does zero Index.db IO (the loaded
    summary replaces the index read, SSTableReaderPatched.java:129-131)."""
    data = _mk(tmp_path, 300)
    size = os.path.getsize(data)

    def boom(*a, **kw):
        raise AssertionError("planning opened Index.db despite summary")

    monkeypatch.setattr(N, "iter_index", boom)
    reader = N.SSTableNativeReader(str(tmp_path), 128)
    splits = sorted((s.start, s.end) for s in reader.partitions())
    # contiguous full coverage, one split per 128 partitions
    assert len(splits) == 3
    assert splits[0][0] == 0 and splits[-1][1] == size
    assert all(a[1] == b[0] for a, b in zip(splits, splits[1:]))


def test_summary_stride_matches_streamed_boundaries(tmp_path):
    """k a multiple of the interval -> summary-strided boundaries are
    byte-identical to the streamed every-k-th-entry boundaries."""
    data = _mk(tmp_path, 700)
    via_summary = sorted(
        (s.start, s.end)
        for s in N.SSTableNativeReader(str(tmp_path), 256).partitions())
    os.unlink(data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX)
    via_index = sorted(
        (s.start, s.end)
        for s in N.SSTableNativeReader(str(tmp_path), 256).partitions())
    assert via_summary == via_index


def test_incompatible_split_size_falls_back_to_index(tmp_path):
    """k not a multiple of the interval -> exact streamed boundaries
    (ceil(n/k) splits), not coarse summary ones."""
    _mk(tmp_path, 100)
    splits = N.SSTableNativeReader(str(tmp_path), 7).partitions()
    assert len(splits) == 15  # ceil(100/7)


def test_corrupt_summary_deleted_and_planning_recovers(tmp_path):
    """Delete-and-rebuild parity (SSTableReaderPatched.java:199-205)."""
    data = _mk(tmp_path, 300)
    spath = data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX
    with open(spath, "r+b") as f:
        f.truncate(20)  # chop mid-header
    reader = N.SSTableNativeReader(str(tmp_path), 128)
    keys = _scan_keys(reader)
    assert len(keys) == 300
    assert not os.path.exists(spath), "corrupt summary not deleted"


def test_streaming_fallback_plans_in_sublinear_memory(tmp_path):
    """No summary: planning streams the index keeping every k-th offset.
    Peak planning allocation must be far below the index size (round 2
    materialized ~all of it as a Python list, O(total index bytes))."""
    import tracemalloc

    data = _mk(tmp_path, 120_000)
    ipath = data[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX
    os.unlink(data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX)
    index_bytes = os.path.getsize(ipath)
    reader = N.SSTableNativeReader(str(tmp_path), 4096)
    tracemalloc.start()
    splits = reader.partitions()
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert len(splits) == 30  # ceil(120000/4096)
    assert index_bytes > 2_000_000
    assert peak < index_bytes // 8, (
        f"planning peak {peak}B vs index {index_bytes}B: materialized?")


def test_seek_via_summary_reads_bounded_index(tmp_path, monkeypatch):
    """Pushed-key seek with a summary scans at most ~interval index
    entries per key (getIndexScanPosition contract), not the whole file,
    and returns exactly the requested partitions."""
    _mk(tmp_path, 1000)
    scanned = {"n": 0}
    real = N.iter_index

    def counting(path, start_pos=0):
        for e in real(path, start_pos=start_pos):
            scanned["n"] += 1
            yield e

    monkeypatch.setattr(N, "iter_index", counting)
    reader = N.SSTableNativeReader(str(tmp_path), 4096)
    reader.pushed_keys = {b"key-000777", b"key-000003", b"key-000999"}
    keys = _scan_keys(reader)
    assert sorted(keys) == [b"key-000003", b"key-000777", b"key-000999"]
    assert scanned["n"] <= 3 * (N.DEFAULT_INDEX_INTERVAL + 2), scanned["n"]


def test_seek_results_identical_with_and_without_summary(tmp_path):
    data = _mk(tmp_path, 500)
    want = {b"key-000000", b"key-000123", b"key-000499", b"key-nope"}

    def lookup():
        r = N.SSTableNativeReader(str(tmp_path), 4096)
        r.pushed_keys = set(want)
        return sorted(_scan_keys(r))

    with_summary = lookup()
    os.unlink(data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX)
    without = lookup()
    assert with_summary == without
    assert with_summary == [b"key-000000", b"key-000123", b"key-000499"]


def test_pre_ja_versions_ignore_summary(tmp_path):
    """'ic' predates summaries (descriptor.version.offHeapSummaries gate,
    SSTableReaderPatched.java:182): a stray summary file is ignored."""
    parts = [{"key": b"k%d" % i, "cells": [
        {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}
        for i in range(5)]
    data = write_sstable(str(tmp_path), 1, parts)
    # rename every component to an 'ic' descriptor
    for fname in sorted(os.listdir(tmp_path)):
        os.rename(os.path.join(tmp_path, fname),
                  os.path.join(tmp_path, fname.replace("-ka-", "-ic-")))
    ic_data = data.replace("-ka-", "-ic-")
    assert N.load_summary(ic_data) is None
    # the summary file was NOT deleted (it is ignored, not judged corrupt)
    assert os.path.exists(ic_data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX)


def test_summary_roundtrip_write_read(tmp_path):
    p = str(tmp_path / "x-Summary.db")
    entries = [(b"a", 0, 0), (b"m", 1000, 5000), (b"z", 2000, 9999)]
    N.write_summary(p, 128, entries, b"a", b"zz")
    s = N.read_summary(p)
    assert s == {"interval": 128, "entries": entries,
                 "first": b"a", "last": b"zz"}


def test_read_summary_rejects_bad_magic(tmp_path):
    import pytest

    p = str(tmp_path / "x-Summary.db")
    with open(p, "wb") as f:
        f.write(b"NOTSUM" + struct.pack(">iq", 128, 0))
    with pytest.raises(ValueError):
        N.read_summary(p)


def test_foreign_summary_left_in_place(tmp_path):
    """A Summary.db without the engine's magic (a genuine Cassandra
    one) is foreign, not corrupt: planning ignores it and never deletes
    it, and the scan equals the scan with no summary at all."""
    data = _mk(tmp_path, 300)
    spath = data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX
    # Cassandra 2.0 IndexSummary header: indexInterval, entry count,
    # off-heap byte size, then the sampled entries
    foreign = struct.pack(">iiq", 128, 3, 96) + bytes(range(96))
    with open(spath, "wb") as f:
        f.write(foreign)
    assert N.load_summary(data) is None
    reader = N.SSTableNativeReader(str(tmp_path), 128)
    with_foreign = read_rows(reader)
    with open(spath, "rb") as f:
        assert f.read() == foreign
    os.unlink(spath)
    assert read_rows(N.SSTableNativeReader(str(tmp_path), 128)) \
        == with_foreign
    assert len([r for r in with_foreign if r[5] == "PARTITION"]) == 300


def _lz4_200k(dir_path) -> str:
    """One LZ4 sstable of 200k partitions of 4 cells (~35 MB logical),
    written through the block writer; returns its Data.db path."""
    import numpy as np

    n, per = 200_000, 4
    keys = sorted((b"key-%07d" % i for i in range(n)),
                  key=lambda k: (N.md5_token(k), k))
    names = [b"c%d" % c for c in range(per)]
    w = N.SSTableStreamWriter(str(dir_path), 1, cf="lz",
                              compression="lz4")
    step = 20_000
    for s in range(0, n, step):
        chunk = keys[s:s + step]
        w.write_partitions_block(
            chunk, [None] * len(chunk), np.full(len(chunk), per, np.int64),
            names * len(chunk), np.zeros(per * len(chunk), np.int8),
            np.arange(per * len(chunk), dtype=np.int64),
            [b"value-%s-%d" % (k, c) for k in chunk for c in range(per)])
    w.close()
    (data,) = N.discover_data_files(str(dir_path))
    return data


def test_summaryless_file_plans_by_bytes(tmp_path):
    """Adaptive sizing cuts by logical bytes whatever the entry source:
    with Summary.db removed, the plan streams Index.db and still holds
    about as many splits as with the summary, none of them (but the
    file's last) under SPLIT_TARGET_MIN_BYTES."""
    data = _lz4_200k(tmp_path)
    size = N.SSTableNativeReader._logical_size(data)
    assert size > 30 << 20

    def plan():
        reader = N.SSTableNativeReader(str(tmp_path), None,
                                       scan_parallelism=4)
        return sorted((s.start, s.end) for s in reader.partitions())

    with_summary = plan()
    os.unlink(data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX)
    without = plan()
    for splits in (with_summary, without):
        assert splits[0][0] == 0 and splits[-1][1] == size
        assert all(a[1] == b[0] for a, b in zip(splits, splits[1:]))
    assert abs(len(without) - len(with_summary)) <= 1, (
        len(without), len(with_summary))
    assert all(end - start >= N.SSTableNativeReader.SPLIT_TARGET_MIN_BYTES
               for start, end in without[:-1]), without
