"""Vectorized cell codec (cellcodec) parity pins -- VERDICT r7 #1.

The batch codec must be BYTE-identical (write side) and ROW-identical
(read side) to the per-cell references kept as identity oracles in
tests/sstable_oracle.py: the per-cell writer and the scalar walk.
These tests pin that equivalence over mixed cell kinds, dead
partitions, chunked block accounting, resuming a partition cut at any
byte, every read() mode, and the Cassandra-quirk murmur/bloom
arithmetic, so any divergence is a loud diff here rather than a silent
corruption at 100 TB.
"""

from __future__ import annotations

import hashlib
import os
import random
import struct
from collections import Counter

import numpy as np
import pytest

from cassandra_sstable_to_protocolbuf_spark.sources import cellcodec as C
from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from tests.sstable_oracle import (PerCellWriter, bloom_add, expected_rows,
                                  iter_rows, read_rows, write_sstable)

LIVE = (N.LIVE_LOCAL_DELETION, N.LIVE_MARKED_AT)


def _mixed_fixture(dir_path, n_parts=60, seed=3):
    """Per-cell-writer sstable with every cell kind and a few dead
    partitions; returns (data_path, the per-partition build plan)."""
    random.seed(seed)
    keys = sorted([b"pk%04d" % i for i in range(n_parts)],
                  key=lambda k: (N.md5_token(k), k))
    plan = []
    for j, k in enumerate(keys):
        cells = []
        for c in range(random.randrange(1, 9)):
            kind = random.choice(["LIVE", "LIVE", "LIVE", "DELETED",
                                  "EXPIRING", "COUNTER"])
            val = bytes(random.randrange(256)
                        for _ in range(random.randrange(0, 30)))
            cells.append((b"c%03d" % c, kind, j * 100 + c, val))
        plan.append((k, (5, 5) if j % 7 == 0 else None, cells))
    w = PerCellWriter(dir_path, 1)
    for k, deletion, cells in plan:
        w.start_partition(k, deletion)
        for name, kind, ts, val in cells:
            if kind == "DELETED":
                w.add_cell(name, kind, ts, b"", local_deletion=123)
            elif kind == "EXPIRING":
                w.add_cell(name, kind, ts, val, ttl=60,
                           local_expiration=999)
            elif kind == "COUNTER":
                w.add_cell(name, kind, ts, val,
                           timestamp_of_last_delete=-5)
            else:
                w.add_cell(name, kind, ts, val)
        w.end_partition()
    return w.close(), plan


def _plan_to_flat(plan):
    """The scalar build plan re-expressed as write_partitions_block's
    flat columnar inputs."""
    pk, pd_, cnt, nm, kc, tss, vv, pf = [], [], [], [], [], [], [], []
    for k, deletion, cells in plan:
        pk.append(k)
        pd_.append(deletion)
        cnt.append(len(cells))
        for name, kind, ts, val in cells:
            nm.append(name)
            tss.append(ts)
            if kind == "DELETED":
                kc.append(C.KIND_DELETED)
                vv.append(struct.pack(">i", 123))
                pf.append(b"")
            elif kind == "EXPIRING":
                kc.append(C.KIND_EXPIRING)
                vv.append(val)
                pf.append(struct.pack(">ii", 60, 999))
            elif kind == "COUNTER":
                kc.append(C.KIND_COUNTER)
                vv.append(val)
                pf.append(struct.pack(">q", -5))
            else:
                kc.append(C.KIND_LIVE)
                vv.append(val)
                pf.append(b"")
    return (pk, pd_, np.array(cnt, np.int64), nm, np.array(kc, np.int8),
            np.array(tss, np.int64), vv, pf)


def test_batch_writer_components_byte_identical(tmp_path):
    """write_partitions_block must produce EVERY component byte-for-
    byte equal to the per-cell writer on a mixed-kind fixture: Data,
    Index (promoted blobs included), Filter, Summary."""
    p1, plan = _mixed_fixture(str(tmp_path / "scalar"))
    w = N.SSTableStreamWriter(str(tmp_path / "batch"), 1)
    w.write_partitions_block(*_plan_to_flat(plan))
    p2 = w.close()
    for sfx in (N.DATA_SUFFIX, N.INDEX_SUFFIX, N.FILTER_SUFFIX,
                N.SUMMARY_SUFFIX):
        a = p1[:-len(N.DATA_SUFFIX)] + sfx
        b = p2[:-len(N.DATA_SUFFIX)] + sfx
        with open(a, "rb") as fa, open(b, "rb") as fb:
            assert fa.read() == fb.read(), sfx


def test_batch_writer_wide_rows_promote_identically(tmp_path):
    """Promoted-index blobs (block extents, min/max names) from the
    batch path equal the per-cell writer's for wide rows, and chunked
    add_cells_batch block accounting equals the per-atom accounting for
    EVERY chunking of the same atom stream -- also behind a range
    tombstone that opens the partition's first block (the shape
    perfbench/gen.py writes)."""
    keys = sorted([b"w1", b"w2"], key=lambda k: (N.md5_token(k), k))
    cells = [(b"n%04d" % i, i, b"v" * 20) for i in range(300)]

    for rt in (None, (b"n0000", b"n0299\xff", 600, 105)):
        tag = "plain" if rt is None else "rt"
        w1 = PerCellWriter(str(tmp_path / f"scalar-{tag}"), 1,
                           column_index_bytes=256)
        for k in keys:
            w1.start_partition(k)
            if rt is not None:
                w1.add_range_tombstone(*rt)
            for name, ts, val in cells:
                w1.add_cell(name, "LIVE", ts, val)
            w1.end_partition()
        p1 = w1.close()

        for chunks in ([300], [1] * 300, [7, 100, 193], [299, 1]):
            w2 = N.SSTableStreamWriter(
                str(tmp_path / f"batch{len(chunks)}-{tag}"), 1,
                column_index_bytes=256)
            for k in keys:
                w2.start_partition(k)
                if rt is not None:
                    w2.add_range_tombstone(*rt)
                pos = 0
                for c in chunks:
                    sub = cells[pos:pos + c]
                    w2.add_cells_batch(
                        [s[0] for s in sub], np.zeros(len(sub), np.int8),
                        np.array([s[1] for s in sub], np.int64),
                        [s[2] for s in sub])
                    pos += c
                w2.end_partition()
            p2 = w2.close()
            with open(p1, "rb") as fa, open(p2, "rb") as fb:
                assert fa.read() == fb.read(), chunks
            ia = p1[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX
            ib = p2[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX
            with open(ia, "rb") as fa, open(ib, "rb") as fb:
                assert fa.read() == fb.read(), chunks


def test_batch_writer_rejects_out_of_order_and_empty_names(tmp_path):
    w = N.SSTableStreamWriter(str(tmp_path), 1)
    ks = sorted([b"k1", b"k2"], key=lambda k: (N.md5_token(k), k))
    with pytest.raises(ValueError, match="decorated order"):
        w.write_partitions_block(
            [ks[1], ks[0]], [None, None], np.array([1, 1]),
            [b"a", b"b"], np.zeros(2, np.int8), np.zeros(2, np.int64),
            [b"", b""])
    with pytest.raises(ValueError, match="non-empty"):
        w.write_partitions_block(
            [ks[0]], [None], np.array([1]), [b""],
            np.zeros(1, np.int8), np.zeros(1, np.int64), [b""])
    # cross-block ordering: a second block starting at-or-before the
    # first block's last key must fail
    w.write_partitions_block([ks[0]], [None], np.array([1]), [b"n"],
                             np.zeros(1, np.int8), np.zeros(1, np.int64),
                             [b"v"])
    with pytest.raises(ValueError, match="decorated order"):
        w.write_partitions_block([ks[0]], [None], np.array([1]), [b"n"],
                                 np.zeros(1, np.int8),
                                 np.zeros(1, np.int64), [b"v"])
    w.abort()


def test_spans_to_binary_gathers_spans():
    """The one gather both decoders build binary columns with: spans in
    buffer order, zero-length spans at any offset (before, behind or
    past their neighbours) and NULLs between real ones."""
    import pyarrow as pa

    empty = C.spans_to_binary(b"abc", np.empty(0, np.int64),
                              np.empty(0, np.int64))
    assert empty.type == pa.binary() and len(empty) == 0

    buf = bytearray(b"0123456789")
    offs = np.array([1, 0, 9, 0, 5, 4, 8], dtype=np.int64)
    lens = np.array([3, 0, 0, -1, 2, 0, 2], dtype=np.int64)
    got = C.spans_to_binary(buf, offs, lens, validity=lens >= 0)
    assert got.type == pa.binary()
    assert got.to_pylist() == [b"123", b"", b"", None, b"56", b"", b"89"]
    assert got.null_count == 1
    # the gather copies: the buffer may be trimmed right after
    del buf[:4]
    assert got.to_pylist()[0] == b"123"


@pytest.mark.parametrize("offs,lens", [
    ([5, 1], [2, 2]),      # out of buffer order
    ([1, 2], [3, 3]),      # overlapping
    ([1, 1], [2, 2]),      # the same span twice
    ([-1], [2]),           # before the buffer
    ([8], [5]),            # past the buffer end
])
def test_spans_to_binary_rejects_unordered_spans(offs, lens):
    with pytest.raises(ValueError, match="span"):
        C.spans_to_binary(b"0123456789", np.array(offs, dtype=np.int64),
                          np.array(lens, dtype=np.int64))


def test_decode_rows_match_scalar_iter(tmp_path):
    """decode_partitions + registers_to_arrow reproduce the scalar walk
    EXACTLY (same rows, same order, marker rows, nulls, kinds) on the
    mixed fixture -- plain and live_only."""
    data, _plan = _mixed_fixture(str(tmp_path))
    raw = open(data, "rb").read()
    for live_only in (False, True):
        rdr = N.SSTableNativeReader(str(tmp_path), 10 ** 6,
                                    live_only=live_only)
        ref = [r for s in rdr.partitions() for r in iter_rows(rdr, s)]
        regs = C._Registers()
        parts: list = []
        stop = C.decode_partitions(raw, 0, len(raw), regs, parts,
                                   live_only=live_only)
        assert stop == (len(raw), None)
        b = C.registers_to_arrow(raw, regs, parts, ref[0][0], live_only)
        got = list(zip(*[col.to_pylist() for col in b.columns]))
        assert got == ref, f"live_only={live_only}"


def _coalesced_parts(regs, parts):
    """[(key, live), records] per partition: the entries one partition
    gets from successive resumed calls merge into one."""
    out: list = []
    for p, n in zip(parts, regs.part_counts):
        if out and out[-1][0] == p:
            out[-1][1] += n
        else:
            out.append([p, n])
    return out


@pytest.mark.parametrize("live_only", [False, True])
@pytest.mark.parametrize("layout", ["ja", "ic"])
def test_decode_resumes_at_every_cut(tmp_path, layout, live_only):
    """Cut the buffer at EVERY byte offset, decode the prefix, then
    resume over the whole buffer from the returned offset and open
    partition: spans, sparse fields and parts equal the one-shot decode
    (no duplicate, no gap), and a resumed partition never repeats its
    PARTITION marker. Covers end-of-row framing and old-format counted
    rows (the open state carries the atoms left)."""
    if layout == "ja":
        data, _plan = _mixed_fixture(str(tmp_path), n_parts=12)
    else:
        data = _write_ic_fixture(str(tmp_path), n_parts=12, cells_per=3)
    raw = open(data, "rb").read()

    def decode(buf, regs, parts, **kw):
        return C.decode_partitions(buf, 0, len(raw), regs, parts,
                                   live_only=live_only,
                                   old_format=layout == "ic", **kw)

    full, full_parts = C._Registers(), []
    assert decode(raw, full, full_parts) == (len(raw), None)
    want = _coalesced_parts(full, full_parts)
    assert len(want) > 5
    for cut in range(len(raw) + 1):
        regs, parts = C._Registers(), []
        o, open_part = decode(raw[:cut], regs, parts)
        assert o <= cut
        assert decode(raw, regs, parts, start_at=o,
                      open_part=open_part) == (len(raw), None), cut
        assert bytes(regs.spans) == bytes(full.spans), cut
        assert len(parts) == len(regs.part_counts), cut
        assert min(regs.part_counts) > 0, cut
        assert regs.sparse_ttl == full.sparse_ttl, cut
        assert regs.sparse_lexp == full.sparse_lexp, cut
        assert _coalesced_parts(regs, parts) == want, cut


def test_fast_read_path_matches_tuple_path_through_spark(tmp_path, spark):
    """End-to-end through the registered source: the Arrow decode equals
    the scalar oracle's rows."""
    data, _plan = _mixed_fixture(str(tmp_path))
    df = N.read_native_cells(spark, str(tmp_path))
    got = sorted((r.key, r.name, r.value, r.writeTime, r.cell_kind,
                  r.ttl, r.local_expiration, r.partition_deletion_live)
                 for r in df.collect())
    rdr = N.SSTableNativeReader(str(tmp_path), 4096)
    ref = sorted(r[1:] for r in expected_rows(rdr))
    assert got == ref


def test_murmur_and_bloom_batch_bit_identical():
    """murmur3_hash128_batch (Java signed-tail quirk included) and
    bloom_add_batch equal the scalar implementations over random keys
    of every tail length, high bytes included."""
    random.seed(7)
    keys = [bytes(random.randrange(256) for _ in range(ln))
            for ln in list(range(0, 40)) * 20]
    random.shuffle(keys)
    h1, h2 = C.murmur3_hash128_batch(keys)
    for i, k in enumerate(keys):
        assert N.murmur3_hash128(k) == (int(h1[i]), int(h2[i])), k

    b_scalar = N.BloomFilter.build(len(keys), 0.01)
    b_batch = N.BloomFilter.build(len(keys), 0.01)
    for k in keys:
        bloom_add(b_scalar, k)
    C.bloom_add_batch(b_batch, keys)
    assert b_scalar.words == b_batch.words
    for k in keys:
        assert b_batch.might_contain(k)


def test_iter_index_key_chunks_matches_iter_index(tmp_path):
    data, _plan = _mixed_fixture(str(tmp_path), n_parts=300)
    index = data[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX
    ref = [k for k, _o, _p in N.iter_index(index)]
    got = [k for chunk in C.iter_index_key_chunks(index, chunk_keys=64)
           for k in chunk]
    assert got == ref


def test_encode_index_entries_matches_struct_pack():
    keys = [b"a", b"bb", b"ccc"]
    pos = np.array([0, 100, 2 ** 40], dtype=np.int64)
    promoted = [b"", b"PROMO", b""]
    blob, offs = C.encode_index_entries(keys, pos, promoted)
    ref = b"".join(
        struct.pack(">H", len(k)) + k + struct.pack(">QI", p, len(pr))
        + pr for k, p, pr in zip(keys, pos.tolist(), promoted))
    assert bytes(blob) == ref
    assert offs.tolist() == [0, 15, 36]


def _sliced_fixture(dir_path, n_parts=40, seed=11):
    """Wide (promoted) + narrow partitions, every cell kind, dead
    partitions -- the sliced read path's full shape space."""
    random.seed(seed)
    keys = sorted([b"pk%04d" % i for i in range(n_parts)],
                  key=lambda k: (N.md5_token(k), k))
    w = PerCellWriter(dir_path, 1, column_index_bytes=256)
    for j, k in enumerate(keys):
        w.start_partition(k, (5, 5) if j % 9 == 0 else None)
        n_cells = 40 if j % 3 == 0 else random.randrange(1, 6)
        for c in range(n_cells):
            kind = random.choice(["LIVE", "LIVE", "LIVE", "DELETED",
                                  "EXPIRING", "COUNTER"])
            name = b"n%04d" % c
            val = bytes(random.randrange(256)
                        for _ in range(random.randrange(0, 30)))
            if kind == "DELETED":
                w.add_cell(name, kind, j * 100 + c, b"",
                           local_deletion=123)
            elif kind == "EXPIRING":
                w.add_cell(name, kind, j * 100 + c, val, ttl=60,
                           local_expiration=999)
            elif kind == "COUNTER":
                w.add_cell(name, kind, j * 100 + c, val,
                           timestamp_of_last_delete=-5)
            else:
                w.add_cell(name, kind, j * 100 + c, val)
        w.end_partition()
    return w.close()


@pytest.mark.parametrize("coarse", [False, True])
@pytest.mark.parametrize("live_only", [False, True])
@pytest.mark.parametrize("name_range", [(b"n0002", b"n0007"),
                                        (b"n0030", None),
                                        (None, b"n0003"),
                                        (b"n0001", b"n0001\x00")])
def test_sliced_fast_path_matches_scalar(tmp_path, coarse, live_only,
                                         name_range):
    """VERDICT r8 #3 row-identity pin: read() (sliced path) equals a full
    scalar scan plus the slice residual as a row multiset for every
    slice shape, live_only on and off, through BOTH executor shapes --
    plan-derived _SliceRunSplits + narrow windows, and (with the
    index-walk cap forced to 0) the coarse lockstep walk's wide runs."""
    _sliced_fixture(str(tmp_path))
    rdr = N.SSTableNativeReader(str(tmp_path), 7, live_only=live_only,
                                name_range=name_range)
    if coarse:
        rdr.SLICE_INDEX_WALK_CAP = 0  # decline planning: coarse splits
    splits = rdr.partitions()
    assert splits
    if coarse:
        assert not any(isinstance(s, N._SliceRunSplit) for s in splits)
    got = Counter(read_rows(rdr, splits))
    assert got == Counter(expected_rows(rdr))
    if name_range != (b"n0030", None) or not live_only:
        assert got, "vacuous slice: fixture regression"


def test_sliced_fast_path_matches_scalar_through_spark(tmp_path, spark):
    """End-to-end through the registered source with a clustering
    slice: the sliced read equals the scalar oracle row for row
    (sorted), including ttl/local_expiration nulls and kinds."""
    _sliced_fixture(str(tmp_path))
    df = N.read_native_cells(spark, str(tmp_path),
                             name_range=(b"n0002", b"n0020"))
    got = sorted((bytes(r.key), bytes(r.name), bytes(r.value),
                  r.writeTime, r.cell_kind, r.ttl, r.local_expiration,
                  r.partition_deletion_live) for r in df.collect())
    rdr = N.SSTableNativeReader(str(tmp_path), 4096,
                                name_range=(b"n0002", b"n0020"))
    ref = sorted(r[1:] for r in expected_rows(rdr))
    assert got == ref and got


def _matrix_fixture(dir_path: str, n_parts: int = 30, seed: int = 5):
    """Wide (promoted) and narrow partitions with every cell kind,
    range tombstones, empty and dead partitions. Names are CQL3
    composites with FIXED-width components (group %04d, seq %03d), so
    raw byte order equals composite order and the writer's ordering
    contract holds, while a variable-width bound still splits the two
    orders."""
    random.seed(seed)
    parts = []
    for j in range(n_parts):
        cells = []
        for c in range(60 if j % 3 == 0 else random.randrange(0, 6)):
            kind = random.choice(["LIVE", "LIVE", "LIVE", "DELETED",
                                  "EXPIRING", "COUNTER"])
            cells.append({
                "name": N.composite_encode([b"%04d" % (c // 5),
                                            b"%03d" % c]),
                "kind": kind, "timestamp": j * 100 + c,
                "value": bytes(random.randrange(256)
                               for _ in range(random.randrange(0, 30))),
                "local_deletion": 123, "ttl": 60, "local_expiration": 999,
                "timestamp_of_last_delete": -5})
        part = {"key": b"pk%04d" % j, "cells": cells}
        if j % 7 == 0:
            part["deletion"] = (5, 5)
        if j % 5 == 1:
            part["range_tombstones"] = [
                (N.composite_encode([b"0000"]),
                 N.composite_encode([b"0001"]), 600, 105)]
        parts.append(part)
    return write_sstable(dir_path, 1, parts, column_index_bytes=256)


@pytest.fixture(scope="module")
def matrix_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("matrix"))
    _matrix_fixture(d)
    return d


_MATRIX_SLICES = {
    "none": None,
    "raw": (N.composite_encode([b"0002"]), N.composite_encode([b"0005"])),
    # groups 0001..0009 in component order; EMPTY in raw byte order (the
    # 3-byte bound's shorter length prefix sorts below every name)
    "composite": (N.composite_encode([b"0001"]),
                  N.composite_encode([b"001"])),
}


@pytest.mark.parametrize("live_only", [False, True])
@pytest.mark.parametrize("window", ["default", "small"])
@pytest.mark.parametrize("verify", [False, True])
@pytest.mark.parametrize("slice_", ["none", "raw", "composite"])
@pytest.mark.parametrize("mode", ["FAILFAST", "PERMISSIVE"])
def test_read_matches_oracle(matrix_dir, mode, slice_, verify, window,
                             live_only):
    """read() is one decode path: every mode x slice x digest-verify x
    read window x live_only combination yields exactly the scalar
    oracle's rows -- in order for plain reads, as a multiset for sliced
    ones. The small window cuts partitions and slice batches every few
    hundred bytes, so resumed partitions and batch budgets are on the
    line."""
    rdr = N.SSTableNativeReader(
        matrix_dir, 7, live_only=live_only,
        permissive=mode == "PERMISSIVE", verify_digest=verify,
        name_range=_MATRIX_SLICES[slice_],
        composite_comparator=slice_ == "composite")
    if window == "small":
        rdr.FAST_SCAN_GROW = 300
        rdr.SLICE_FAST_BATCH_BYTES = 600
        rdr.SLICE_SPLIT_BYTES = 1024
    got = read_rows(rdr)
    want = expected_rows(rdr)
    assert want, "vacuous case: fixture regression"
    if slice_ == "none":
        assert got == want
    else:
        assert Counter(got) == Counter(want)


def test_split_target_bytes_wrap_around_range():
    """A wrap-around token interval (hi < lo) covers 1 - (lo - hi) of the
    ring; the old sizing computed a negative fraction and fell to the
    1/1024 floor, planning maximally fine splits (VERDICT r10 #4)."""
    def mk(tr):
        rdr = N.SSTableNativeReader.__new__(N.SSTableNativeReader)
        rdr.partitions_per_split = None
        rdr.token_range = tr
        rdr.scan_parallelism = 4
        rdr._scan_total_bytes = 1 << 30
        return rdr

    half = mk(("40", "c0"))._split_target_bytes(1 << 30)
    wrapped = mk(("c0", "40"))._split_target_bytes(1 << 30)
    assert wrapped == half  # both intervals cover half the ring
    # quarter wrap: hi < lo covering 1 - 0.5 = ... ("e0", "60") covers
    # 1 - (0.875 - 0.375) = 0.5; ("c0", "20") covers 0.375
    q = mk(("c0", "20"))._split_target_bytes(1 << 30)
    full = mk(None)._split_target_bytes(1 << 30)
    assert q < full and q >= (1 << 30) * 0.375 // 4


def _write_ic_fixture(d: str, n_parts: int = 400, cells_per: int = 6):
    """Hand-assembled pre-'ja' ('ic') sstable: rowSize + columnCount
    framing (test_golden_209_format layout), mixed cell kinds, a dead
    partition, and a zero-column row; Index.db with promotedSize=0."""
    import os
    import struct

    live_del = struct.pack(">iq", 0x7FFFFFFF, -(2 ** 63))
    dead_del = struct.pack(">iq", 100, 5_000)

    def atom(name, kind, ts, value):
        if kind == "LIVE":
            return (struct.pack(">H", len(name)) + name + b"\x00"
                    + struct.pack(">qi", ts, len(value)) + value)
        if kind == "DELETED":
            return (struct.pack(">H", len(name)) + name + b"\x01"
                    + struct.pack(">qi", ts, 4) + struct.pack(">i", 77))
        return (struct.pack(">H", len(name)) + name + b"\x02"
                + struct.pack(">ii", 60, 99)
                + struct.pack(">qi", ts, len(value)) + value)

    import hashlib

    data = bytearray()
    index = bytearray()
    keys = sorted((b"k%06d" % i for i in range(n_parts)),
                  key=lambda k: hashlib.md5(k).hexdigest())
    for i, key in enumerate(keys):
        if i % 97 == 41:
            deletion, atoms, count = dead_del, b"", 0
        elif i % 89 == 13:
            deletion, atoms, count = live_del, b"", 0
        else:
            deletion = live_del
            count = cells_per
            atoms = b"".join(
                atom(b"c%04d" % c,
                     ("LIVE", "DELETED", "EXPIRING")[c % 3 if i % 7 == 0
                                                     else 0],
                     1000 + c, b"val-%06d-%d" % (i, c))
                for c in range(cells_per))
        payload = deletion + struct.pack(">i", count) + atoms
        index += (struct.pack(">H", len(key)) + key
                  + struct.pack(">qi", len(data), 0))
        data += (struct.pack(">H", len(key)) + key
                 + struct.pack(">q", len(payload)) + payload)
    base = os.path.join(d, "Keyspace1-Standard1-ic-1-")
    with open(base + "Data.db", "wb") as f:
        f.write(data)
    with open(base + "Index.db", "wb") as f:
        f.write(index)
    return base + "Data.db"


def test_fast_read_old_format_matches_scalar(tmp_path):
    """Pre-'ja' row framing through the vectorized decoder
    (decode_partitions old_format): row-for-row identical to the scalar
    walk, including dead partitions, zero-column rows and non-LIVE
    kinds, plain AND live_only, at the default and a small read
    window (counted rows resumed mid-partition)."""
    _write_ic_fixture(str(tmp_path))
    for live_only in (False, True):
        for grow in (None, 300):
            rdr = N.SSTableNativeReader(str(tmp_path), 10 ** 6,
                                        live_only=live_only)
            if grow is not None:
                rdr.FAST_SCAN_GROW = grow
            got = read_rows(rdr)
            assert got == expected_rows(rdr) and len(got) > 1000


def test_old_format_sliced_read_matches_scalar(tmp_path):
    """name_range over a pre-'ja' file: the sliced read must equal a
    full scalar scan plus the exact name filter (pre-'ja' files carry
    no engine promoted blobs to walk)."""
    _write_ic_fixture(str(tmp_path), n_parts=300, cells_per=8)
    for live_only in (False, True):
        rdr = N.SSTableNativeReader(str(tmp_path), 10 ** 6,
                                    live_only=live_only,
                                    name_range=(b"c0002", b"c0006"))
        got = Counter(read_rows(rdr))
        assert got == Counter(expected_rows(rdr))
        assert sum(got.values()) > 300
