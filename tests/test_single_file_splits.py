"""Split-parallel scan of ONE large sstable (VERDICT r5 #7): the
summary-strided byte-range splits must actually scale a single file's
scan across cores -- the 100 TB single-giant-file shape. Pins split
structure (full disjoint coverage of the byte extent) and the measured
speedup of N splits over 1 split, with a generous threshold so suite
load cannot flake it. The cross-engine content gate is
sst_single_file_scan."""

from __future__ import annotations

import os
import time

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N

# x4 cells each = 1.2M cells: sized so the parallel fraction dominates
# the fixed per-scan overhead -- the r8 vectorized decode made a 600k
# single-split scan so fast (~1.3s) that its split speedup margin
# dipped toward the floor under suite load
N_PARTS = 300_000


def _big_fixture(tmp_path):
    import numpy as np

    d = str(tmp_path / "one")
    # batch writer: the fixture is about READ-side split scaling, so
    # build it through the fast encode path (same bytes as per-cell)
    keys = sorted((b"key-%07d" % i for i in range(N_PARTS)),
                  key=lambda k: (N.md5_token(k), k))
    w = N.SSTableStreamWriter(d, 1, cf="big")
    step = 8192
    names = [b"c%d" % c for c in range(4)]
    for s in range(0, N_PARTS, step):
        chunk = keys[s:s + step]
        idx = [int(k[4:]) for k in chunk]
        w.write_partitions_block(
            chunk, [None] * len(chunk),
            np.full(len(chunk), 4, np.int64),
            [nm for _ in chunk for nm in names],
            np.zeros(4 * len(chunk), np.int8),
            np.array([i * 10 + c for i in idx for c in range(4)],
                     np.int64),
            [b"val-%07d-%d" % (i, c) for i in idx for c in range(4)])
    w.close()
    return d


def test_split_structure_covers_extent_disjointly(tmp_path):
    d = _big_fixture(tmp_path)
    reader = N.SSTableNativeReader(d, 4096)
    splits = sorted(reader.partitions(), key=lambda s: s.start)
    assert len(splits) == -(-N_PARTS // 4096)  # one per 4096 partitions
    assert splits[0].start == 0
    size = os.path.getsize(os.path.join(d, "ks-big-ka-1" + N.DATA_SUFFIX))
    assert splits[-1].end == size
    for a, b in zip(splits, splits[1:]):
        assert a.end == b.start, "splits must tile the file exactly"


def test_n_splits_scale_one_file_scan(spark, tmp_path, capsys):
    d = _big_fixture(tmp_path)

    def scan_wall(pps):
        df = N.read_native_cells(spark, d, partitions_per_split=pps)
        # planned splits, not Spark partitions: the DataSource packs
        # consecutive splits into min(splits, defaultParallelism) tasks
        # here (the 44 MB fixture is under SPLIT_TARGET_MAX_BYTES)
        n_splits = len(N.SSTableNativeReader(d, pps).partitions())
        assert df.rdd.getNumPartitions() == min(
            n_splits, spark.sparkContext.defaultParallelism)
        start = time.monotonic()
        n = df.count()
        wall = time.monotonic() - start
        assert n == N_PARTS * 5  # marker + 4 cells per partition
        return wall, n_splits

    # warm both paths once (JVM/python-worker startup out of the timing)
    scan_wall(1 << 30)
    scan_wall(8192)
    single, n1 = scan_wall(1 << 30)
    multi, nk = scan_wall(8192)
    assert n1 == 1 and nk == -(-N_PARTS // 8192)
    speedup = single / multi
    # The Tier-1 run uses `nproc` cores; the floor is deliberately
    # generous so a loaded machine cannot flake it. Context for the
    # margin: the r8 vectorized decode cut the SINGLE-split scan ~3x,
    # and each Python task costs 70-120 ms of start-up that overlaps
    # poorly, so the headroom is bounded by task count, not decode CPU.
    # With the 37 splits packed into 4 tasks a 4-core host measures
    # ~2.1x (4.5s vs 2.1s over 1.2M cells, in the full suite); before
    # packing, 37 one-split tasks lost to one split (0.85x). The pin is
    # that splitting STILL wins, not the r5-era 5.5x that per-cell
    # Python decode left on the table.
    with capsys.disabled():
        print(f"\n[single-file splits] 1 split {single:.2f}s, "
              f"{nk} splits {multi:.2f}s, speedup {speedup:.1f}x")
    assert speedup >= 1.3, (
        f"N splits of one sstable must beat 1 split: {speedup:.2f}x "
        f"({single:.2f}s vs {multi:.2f}s)")
