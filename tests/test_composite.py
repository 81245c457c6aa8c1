"""CQL3 CompositeType comparator support (VERDICT r9 #3): real-world
`ka` files carry composite clustering, whose comparator order differs
from raw byte order of the encodings (the 2-byte length prefix compares
first). These drills pin: the comparator itself against an independent
model, end-to-end slices (block selection + per-atom residual + EOC
range-bound semantics) returning exactly the comparator-order rows
where raw-byte slicing provably diverges, and per-component ka
min/maxColumnNames whole-file elimination that never drops a row.
"""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
    SSTableNativeReader, composite_compare, composite_encode,
    composite_split, read_native_cells, read_stats_column_name_lists,
    write_real_ka_statistics)
from tests.sstable_oracle import scan_partitions, write_sstable

_components = st.lists(
    st.tuples(st.binary(min_size=0, max_size=6),
              st.sampled_from([-1, 0, 1])),
    min_size=1, max_size=4)


@settings(max_examples=300, deadline=None)
@given(_components, _components)
def test_composite_compare_matches_tuple_model(ca, cb):
    """The comparator against an independent model: python's
    lexicographic list comparison over [(value, eoc), ...] IS
    AbstractCompositeType's order for byte-ordered subtypes (value
    first, signed EOC tiebreak, exhausted-first sorts first)."""
    a, b = composite_encode(ca), composite_encode(cb)
    assert composite_split(a) == ca and composite_split(b) == cb
    model = (ca > cb) - (ca < cb)
    assert composite_compare(a, b) == model
    assert composite_compare(b, a) == -model
    assert composite_compare(a, a) == 0


def test_composite_split_rejects_malformed():
    good = composite_encode([b"ab", b"c"])
    assert composite_split(good) is not None
    assert composite_split(good[:-1]) is None       # truncated eoc
    assert composite_split(good + b"\x00") is None  # trailing garbage
    assert composite_split(b"") is None
    assert composite_split(b"\x00") is None
    # non-composite single blob that happens to start with small bytes
    assert composite_split(b"\x00\xff" + b"x" * 4) is None


def _write_composite(d, cf, g_range, keys=(b"k1", b"k2"), per=40,
                     ts=100):
    """Fixture sstable with composite names (c1 = %010d group,
    c2 = %04d seq) -- components FIXED length, so raw byte order equals
    composite order and the stream writer's raw-order contract holds
    (exactly the CQL3 `(text, text)` clustering shape with padded
    values). Small column_index_bytes forces promoted IndexInfo
    blocks, so slices exercise block selection."""
    parts = []
    for key in keys:
        cells = []
        for g in g_range:
            for j in range(per):
                cells.append({
                    "name": composite_encode([b"%010d" % g,
                                              b"%04d" % j]),
                    "kind": "LIVE", "timestamp": ts,
                    "value": b"v-%d-%d" % (g, j)})
        parts.append({"key": key, "cells": cells})
    return write_sstable(d, 1, parts, cf=cf, column_index_bytes=512)


def _model_rows(spark, d, lo, hi):
    """Expected slice content: the comparator-order filter applied in
    plain python over a full scan."""
    full = read_native_cells(spark, d, live_only=True).filter(
        "cell_kind = 'LIVE'").collect()
    out = set()
    for r in full:
        name = bytes(r.name)
        if lo is not None and composite_compare(name, lo) < 0:
            continue
        if hi is not None and composite_compare(name, hi) >= 0:
            continue
        out.add((bytes(r.key), name, bytes(r.value)))
    return out


def _sliced_rows(spark, d, lo, hi, **kw):
    df = read_native_cells(spark, d, live_only=True,
                           name_range=(lo, hi),
                           composite_comparator=True, **kw)
    return {(bytes(r.key), bytes(r.name), bytes(r.value))
            for r in df.filter("cell_kind = 'LIVE'").collect()}


def test_composite_slice_matches_model_where_raw_diverges(spark,
                                                          tmp_path):
    """A variable-length first-component upper bound: composite order
    keeps the low groups, raw byte order of the encodings would return
    NOTHING (the shorter length prefix sorts the bound below every
    data name). No row dropped, none added, and the divergence is
    asserted -- proof the comparator machinery actually engaged."""
    d = str(tmp_path)
    _write_composite(d, "co", range(30))
    lo = composite_encode([b"0000000004"])
    hi = composite_encode([b"000000001"])  # 9 chars: c1 < '000000001'
    # ... which combined with lo means g in 4..9
    got = _sliced_rows(spark, d, lo, hi)
    want = _model_rows(spark, d, lo, hi)
    assert got == want and got
    groups = {int(composite_split(n)[0][0]) for _k, n, _v in got}
    assert groups == set(range(4, 10))
    # raw-byte interpretation of the same bounds is provably different
    raw = {(k, n, v) for (k, n, v) in _model_rows(spark, d, None, None)
           if n >= lo and n < hi}
    assert raw != got, "fixture failed to exercise the divergence"


def test_composite_slice_eoc_range_bounds(spark, tmp_path):
    """EOC slice-bound semantics end-to-end: a +1 end-of-component on
    the lower bound excludes EVERY name extending that prefix; a -1 on
    the upper bound does the symmetric thing."""
    d = str(tmp_path)
    _write_composite(d, "co", range(10))
    # (g=4, +1) sorts after all of g=4 -> slice starts at g=5
    lo = composite_encode([(b"0000000004", 1)])
    # (g=8, -1) sorts before all of g=8 -> slice ends before g=8
    hi = composite_encode([(b"0000000008", -1)])
    got = _sliced_rows(spark, d, lo, hi)
    assert got == _model_rows(spark, d, lo, hi) and got
    groups = {int(composite_split(n)[0][0]) for _k, n, _v in got}
    assert groups == {5, 6, 7}


def test_composite_point_plus_slice_seek(spark, tmp_path):
    """Pushed key + composite slice: the seek path's promoted-blob
    expansion must select blocks by comparator order too."""
    from pyspark.sql import functions as F

    d = str(tmp_path)
    _write_composite(d, "co", range(20))
    lo = composite_encode([b"000000001"])   # 9 chars: c1 >= '000000001'
    hi = composite_encode([b"0000000015"])  # exact: c1 < 15
    df = read_native_cells(spark, d, live_only=True,
                           name_range=(lo, hi),
                           composite_comparator=True)
    got = {(bytes(r.key), bytes(r.name))
           for r in df.filter(F.col("key") == F.lit(b"k2"))
           .filter("cell_kind = 'LIVE'").collect()}
    want = {(k, n) for (k, n, _v) in _model_rows(spark, d, lo, hi)
            if k == b"k2"}
    assert got == want and got
    groups = {int(composite_split(n)[0][0]) for _k, n in got}
    assert groups == set(range(10, 15))


def _strip_to_foreign_ka(data_path):
    """Replace the engine Statistics.db with a genuine ka one carrying
    per-component min/max name lists computed from the file's cells."""
    stats = data_path[:-len(N.DATA_SUFFIX)] + N.STATS_SUFFIX
    part = N.read_statistics(stats)
    c1s, c2s = [], []
    for p in scan_partitions(data_path, 0, os.path.getsize(data_path)):
        for c in p["cells"]:
            comps = composite_split(c["name"])
            c1s.append(comps[0][0])
            c2s.append(comps[1][0])
    write_real_ka_statistics(
        stats, [min(c1s), min(c2s)], [max(c1s), max(c2s)],
        partitioner=part["partitioner"],
        bloom_fp_chance=part["bloom_fp_chance"])
    assert N.read_name_bounds(stats) is None  # every stamp stripped
    assert read_stats_column_name_lists(stats) == \
        ([min(c1s), min(c2s)], [max(c1s), max(c2s)])


def test_composite_ka_bounds_eliminate_whole_files_soundly(spark,
                                                           tmp_path):
    """Per-component ka min/maxColumnNames elimination, first-component
    rule: a file whose min first component sits above the slice's
    upper bound plans ZERO splits (under the foreign opt-in), a file
    that raw-byte bounds would WRONGLY skip is kept, and the result
    equals the comparator-order model either way -- no row dropped."""
    d = str(tmp_path)
    low = _write_composite(d, "lo", range(10))
    high = _write_composite(d, "hi", range(400, 410))
    _strip_to_foreign_ka(low)
    _strip_to_foreign_ka(high)

    hi_bound = composite_encode([b"000000001"])  # c1 < '000000001'

    def planned_with(monkey_trust: bool):
        """Planned split paths plus the set of Index.db files planning
        had to open -- stats-based elimination's signature is ZERO
        index IO for the eliminated file."""
        touched: set[str] = set()
        real = N.iter_index_promoted

        def spy(index_path, *a, **k):
            touched.add(index_path)
            return real(index_path, *a, **k)

        N.iter_index_promoted = spy
        try:
            rdr = SSTableNativeReader(
                d, 4096, live_only=True, name_range=(None, hi_bound),
                trust_foreign_name_bounds=monkey_trust,
                composite_comparator=True)
            planned = {s.data_path for s in rdr.partitions()
                       if s is not None}
        finally:
            N.iter_index_promoted = real
        return planned, touched

    low_idx = low[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX
    high_idx = high[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX

    # with the opt-in: the HIGH file is eliminated from the ka stats
    # alone -- its Index.db is NEVER opened; the LOW file (which
    # raw-byte bounds logic would wrongly call disjoint: the 9-char
    # bound's length prefix sorts below every 10-char data name) stays
    planned, touched = planned_with(True)
    assert low in planned, "low file wrongly eliminated"
    assert high not in planned
    assert low_idx in touched and high_idx not in touched, \
        "stats elimination did not save the index walk"

    # without the opt-in: no stats pruning -- the high file's index IS
    # walked (and excludes every block, which is fine: that exclusion
    # comes from the file's own promoted blocks, not foreign stats)
    _planned2, touched2 = planned_with(False)
    assert low_idx in touched2 and high_idx in touched2

    got = _sliced_rows(spark, d, None, hi_bound,
                       trust_foreign_name_bounds=True)
    assert got == _model_rows(spark, d, None, hi_bound) and got
    assert _sliced_rows(spark, d, None, hi_bound) == got  # no opt-in
