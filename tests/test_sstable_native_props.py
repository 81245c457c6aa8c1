"""Property test: arbitrary partition/cell structures survive the native
SSTable binary writer -> parser round-trip (pure Python, no Spark)."""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from tests.sstable_oracle import (read_rows, scan_partitions_eager,
                                  write_sstable)

name_bytes = st.binary(min_size=1, max_size=32)
value_bytes = st.binary(min_size=0, max_size=128)
ts = st.integers(min_value=-(2 ** 62), max_value=2 ** 62)

live_cell = st.fixed_dictionaries({
    "name": name_bytes, "kind": st.just("LIVE"),
    "timestamp": ts, "value": value_bytes})
deleted_cell = st.fixed_dictionaries({
    "name": name_bytes, "kind": st.just("DELETED"),
    "timestamp": ts, "local_deletion": st.integers(0, 2 ** 31 - 1)})
expiring_cell = st.fixed_dictionaries({
    "name": name_bytes, "kind": st.just("EXPIRING"), "timestamp": ts,
    "value": value_bytes, "ttl": st.integers(0, 2 ** 31 - 1),
    "local_expiration": st.integers(0, 2 ** 31 - 1)})
counter_cell = st.fixed_dictionaries({
    "name": name_bytes, "kind": st.just("COUNTER"), "timestamp": ts,
    "value": value_bytes,
    "timestamp_of_last_delete": st.integers(-(2 ** 62), 2 ** 62)})

partition = st.fixed_dictionaries(
    {"key": st.binary(min_size=1, max_size=48),
     "cells": st.lists(st.one_of(live_cell, deleted_cell, expiring_cell,
                                 counter_cell), max_size=6)},
    optional={"deletion": st.tuples(st.integers(0, 2 ** 31 - 1),
                                    st.integers(-(2 ** 62), 2 ** 62))},
)


@settings(max_examples=60, deadline=None)
@given(st.lists(partition, min_size=1, max_size=8,
                unique_by=lambda p: p["key"]))
def test_native_write_scan_roundtrip(tmp_path_factory, parts):
    d = str(tmp_path_factory.mktemp("prop_sst"))
    data = write_sstable(d, 1, parts)
    scanned = list(scan_partitions_eager(data, 0, os.path.getsize(data)))
    assert len(scanned) == len(parts)
    expected = {p["key"]: p for p in parts}
    for got in scanned:
        exp = expected[got["key"]]
        want_live = "deletion" not in exp or (
            exp["deletion"][0] == N.LIVE_LOCAL_DELETION
            and exp["deletion"][1] == N.LIVE_MARKED_AT)
        assert got["deletion_live"] == want_live
        assert len(got["cells"]) == len(exp["cells"])
        for g, e in zip(got["cells"], exp["cells"]):
            assert g["name"] == e["name"]
            assert g["kind"] == e["kind"]
            assert g["timestamp"] == e["timestamp"]
            if e["kind"] in ("LIVE", "EXPIRING", "COUNTER"):
                assert g["value"] == e["value"]
            if e["kind"] == "EXPIRING":
                assert g["ttl"] == e["ttl"]
                assert g["local_expiration"] == e["local_expiration"]
    # index agrees with data-file offsets
    idx = N.read_index(data.replace("-Data.db", "-Index.db"))
    assert [k for k, _ in idx] == [p["key"] for p in scanned]


# -- promoted index properties ----------------------------------------------

slice_bound = st.one_of(st.none(), st.binary(min_size=0, max_size=6))


@settings(max_examples=40, deadline=None)
@given(
    parts=st.lists(partition, min_size=1, max_size=5,
                   unique_by=lambda p: p["key"]),
    cib=st.sampled_from([16, 64, 256]),
    lo=slice_bound, hi=slice_bound,
)
def test_promoted_slice_equals_filter(tmp_path_factory, parts, cib, lo, hi):
    """For ANY partition structure, threshold, and [lo, hi) bounds:
    (1) promoted blocks tile each row's atom region exactly, and
    (2) the sliced reader (plan-split or executor-walk path both
    engaged by the registered reader machinery) emits exactly the
    full scan's atoms with name in range -- never a dropped or
    duplicated atom at any block boundary."""
    d = str(tmp_path_factory.mktemp("prop_slice"))
    data = write_sstable(d, 1, parts, column_index_bytes=cib)
    index_path = data[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX

    # (1) extent tiling for every promoted entry
    for key, off, _pos, blob in N.iter_index_promoted(index_path):
        pi = N.parse_promoted_index(blob)
        if pi is None:
            continue
        blocks = pi["blocks"]
        assert blocks[0][2] == 2 + len(key) + 12
        for a, b in zip(blocks, blocks[1:]):
            assert a[2] + a[3] == b[2]

    # (2) slice == filter (kind-insensitive: all atoms surface)
    expected = []
    for p in parts:
        for c in p["cells"]:
            name = c["name"]
            if (lo is None or name >= lo) and (hi is None or name < hi):
                expected.append((p["key"], name, c["timestamp"]))
    rdr = N.SSTableNativeReader(d, 4096, name_range=(lo, hi))
    rdr.SLICE_SPLIT_BYTES = 64  # force chunking wherever possible
    got = [(r[1], r[2], r[4]) for r in read_rows(rdr)]
    assert sorted(got) == sorted(expected)
