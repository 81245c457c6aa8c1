"""Digest.sha1 integrated into the read path (VERDICT r5 #6):
verifyDigest=true sha1s each Data.db in its executor task before
parsing. Tampered file -> loud FAILFAST failure / one PERMISSIVE ERROR
row with ZERO data rows; clean files scan identically; a missing digest
component skips the check. The gated twin is sst_digest_drill."""

from __future__ import annotations

import os

import pytest

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from tests.sstable_oracle import write_sstable


def _fixture(tmp_path, n=40):
    d = str(tmp_path / "sst")
    for cf, ts in (("aa", 1), ("bb", 2)):
        write_sstable(d, 1, [
            {"key": b"k%03d" % i,
             "cells": [{"name": b"c", "kind": "LIVE", "timestamp": ts,
                      "value": b"%s-%03d" % (cf.encode(), i)}]}
            for i in range(n)], cf=cf)
    return d


def _flip(data_path, xor=0x01):
    with open(data_path, "r+b") as f:
        f.seek(os.path.getsize(data_path) // 2)
        b = f.read(1)[0]
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b ^ xor]))


def test_clean_verified_scan_equals_unverified(spark, tmp_path):
    d = _fixture(tmp_path)
    plain = {tuple(r) for r in N.read_native_cells(spark, d).collect()}
    verified = {tuple(r) for r in N.read_native_cells(
        spark, d, verify_digest=True).collect()}
    assert verified == plain and len(plain) > 0


def test_failfast_raises_on_tampered_file(spark, tmp_path):
    d = _fixture(tmp_path)
    _flip(os.path.join(d, "ks-aa-ka-1" + N.DATA_SUFFIX))
    with pytest.raises(Exception, match="digest mismatch"):
        N.read_native_cells(spark, d, verify_digest=True).collect()


def test_permissive_rejects_whole_tampered_file(spark, tmp_path):
    d = _fixture(tmp_path)
    _flip(os.path.join(d, "ks-aa-ka-1" + N.DATA_SUFFIX))
    rows = N.read_native_cells(spark, d, mode="PERMISSIVE",
                               verify_digest=True).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r.sstable_id, []).append(r)
    bad = by_file["ks-aa-ka-1"]
    assert len(bad) == 1 and bad[0].cell_kind == "ERROR"
    assert b"digest mismatch" in bytes(bad[0].value)
    good = by_file["ks-bb-ka-1"]
    assert sum(r.cell_kind == "LIVE" for r in good) == 40


def test_missing_digest_component_skips_check(spark, tmp_path):
    d = _fixture(tmp_path)
    os.unlink(os.path.join(d, "ks-aa-ka-1" + N.DIGEST_SUFFIX))
    rows = N.read_native_cells(spark, d, verify_digest=True).collect()
    assert sum(r.cell_kind == "LIVE" for r in rows) == 80


def test_verify_digest_composes_with_point_lookup(spark, tmp_path):
    """verifyDigest + pushed key predicate: verification wins the
    planning shape (whole-file splits) while the key filter still
    applies as a residual -- and a tampered file rejects before its key
    can surface."""
    d = _fixture(tmp_path)
    rows = N.read_native_cells(spark, d, verify_digest=True)
    hit = rows.filter(rows.key == b"k007").collect()
    keys = {bytes(r.key) for r in hit}
    # marker + LIVE cell per file, two files
    assert keys == {b"k007"} and len(hit) == 4
    assert {r.cell_kind for r in hit} == {"PARTITION", "LIVE"}

    _flip(os.path.join(d, "ks-aa-ka-1" + N.DATA_SUFFIX))
    out = (N.read_native_cells(spark, d, mode="PERMISSIVE",
                               verify_digest=True)
           .filter("key = X'6b303037' OR cell_kind = 'ERROR'").collect())
    by_kind = {}
    for r in out:
        by_kind.setdefault(r.cell_kind, []).append(r)
    assert len(by_kind.get("ERROR", [])) == 1
    assert {bytes(r.sstable_id.encode()) if isinstance(r.sstable_id, str)
            else bytes(r.sstable_id)
            for r in by_kind["ERROR"]} == {b"ks-aa-ka-1"}
    live = [r for r in out if r.cell_kind == "LIVE"]
    assert {bytes(r.key) for r in live} == {b"k007"}
    assert all(r.sstable_id == "ks-bb-ka-1" for r in live)
