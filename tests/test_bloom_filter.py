"""Filter.db bloom component: serialization roundtrip, the no-false-
negative invariant, the fp-rate bound, and the point-lookup skip -- a
definitely-absent key must cost ONE bloom probe per non-owning sstable,
with zero Statistics/Summary/Index IO (the 100 TB lookup shape: 5,000
files on disk, 5 files touched)."""

from __future__ import annotations

import os

import pytest

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from tests.sstable_oracle import PerCellWriter, bloom_add, write_sstable


def test_roundtrip_and_layout(tmp_path):
    b = N.BloomFilter.build(500, 0.01)
    for i in range(500):
        bloom_add(b, b"key-%d" % i)
    path = str(tmp_path / "x-Filter.db")
    b.write(path)
    back = N.BloomFilter.parse(path)
    assert back.hash_count == b.hash_count
    assert back.words == b.words
    # layout: int hashCount, int wordCount, big-endian longs
    raw = open(path, "rb").read()
    assert len(raw) == 8 + 8 * len(b.words)
    assert int.from_bytes(raw[0:4], "big") == b.hash_count
    assert int.from_bytes(raw[4:8], "big") == len(b.words)


def test_no_false_negatives_and_fp_bound():
    n = 2000
    b = N.BloomFilter.build(n, 0.01)
    keys = [b"doc|%d|%d" % (i, i * 31) for i in range(n)]
    for k in keys:
        bloom_add(b, k)
    assert all(b.might_contain(k) for k in keys), "false negative!"
    fp = sum(b.might_contain(b"absent-%d" % i) for i in range(20_000))
    assert fp / 20_000 < 0.03, f"fp rate {fp / 20_000} vs 0.01 target"


def test_parse_rejects_corruption(tmp_path):
    good = str(tmp_path / "g-Filter.db")
    b = N.BloomFilter.build(10, 0.01)
    b.write(good)
    raw = open(good, "rb").read()
    for name, blob in [
        ("trunc-header", raw[:6]),
        ("trunc-words", raw[:-4]),
        ("oversized", raw + b"\x00" * 8),
        ("bad-params", b"\x00\x00\x00\x00" + raw[4:]),
    ]:
        bad = str(tmp_path / f"{name}-Filter.db")
        with open(bad, "wb") as f:
            f.write(blob)
        with pytest.raises(ValueError):
            N.BloomFilter.parse(bad)


def test_writer_emits_filter_component(tmp_path):
    parts = [{"key": b"k%03d" % i,
              "cells": [{"name": b"c", "kind": "LIVE", "timestamp": 1,
                         "value": b"v"}]} for i in range(300)]
    data = write_sstable(str(tmp_path), 1, parts)
    filt = data[:-len(N.DATA_SUFFIX)] + N.FILTER_SUFFIX
    assert os.path.exists(filt)
    bloom = N.BloomFilter.parse(filt)
    assert all(bloom.might_contain(b"k%03d" % i) for i in range(300))
    # sized for 300 keys at the 1% default: ~10 bits/key
    assert 2048 <= len(bloom.words) * 64 <= 8192


def test_point_lookup_skips_non_owning_files(spark, tmp_path, monkeypatch):
    """Two sstables, a key unique to the first: planning must consult
    the second file's bloom and then touch NONE of its Summary/Index --
    and the scan result is exactly the one partition."""
    def mk(cf, keys):
        parts = [{"key": k, "cells": [{"name": b"c", "kind": "LIVE",
                                       "timestamp": 1, "value": cf.encode()}]}
                 for k in keys]
        return write_sstable(str(tmp_path), 1, parts, cf=cf)

    a = mk("aa", [b"only-in-a"] + [b"a%02d" % i for i in range(40)])
    mk("bb", [b"b%02d" % i for i in range(40)])

    touched: list[str] = []
    real_summary, real_index = N.load_summary, N.iter_index

    def spy_summary(data_path):
        touched.append(("summary", os.path.basename(data_path)))
        return real_summary(data_path)

    def spy_index(index_path, start_pos=0):
        touched.append(("index", os.path.basename(index_path)))
        return real_index(index_path, start_pos)

    monkeypatch.setattr(N, "load_summary", spy_summary)
    monkeypatch.setattr(N, "iter_index", spy_index)

    reader = N.SSTableNativeReader(str(tmp_path), 4096)
    reader.pushed_keys = {b"only-in-a"}
    splits = reader.partitions()
    assert len(splits) == 1 and splits[0].data_path == a

    bb_touches = [t for t in touched if "-bb-" in t[1]]
    assert bb_touches == [], f"non-owning file IO: {bb_touches}"
    aa_summary = [t for t in touched if t[0] == "summary" and "-aa-" in t[1]]
    assert aa_summary, "owning file should plan through its summary"

    def row_keys(split):
        out = set()
        for item in reader.read(split):
            # the DataSource read yields Arrow batches or tuples
            if hasattr(item, "column"):
                out.update(item.column(1).to_pylist())
            else:
                k = item[1]
                out.add(k.as_py() if hasattr(k, "as_py") else bytes(k))
        return out

    assert row_keys(splits[0]) == {b"only-in-a"}


def test_lookup_still_works_without_filter_component(spark, tmp_path):
    """Pre-bloom sstables (no Filter.db) stay seekable: the gate is an
    optimization, never a requirement."""
    parts = [{"key": b"k%02d" % i, "cells": [{"name": b"c", "kind": "LIVE",
                                              "timestamp": 1, "value": b"v"}]}
             for i in range(20)]
    data = write_sstable(str(tmp_path), 1, parts)
    os.unlink(data[:-len(N.DATA_SUFFIX)] + N.FILTER_SUFFIX)
    reader = N.SSTableNativeReader(str(tmp_path), 4096)
    reader.pushed_keys = {b"k07"}
    splits = reader.partitions()
    assert len(splits) == 1
    out = set()
    for item in reader.read(splits[0]):
        if hasattr(item, "column"):
            out.update(item.column(1).to_pylist())
        else:
            k = item[1]
            out.add(k.as_py() if hasattr(k, "as_py") else bytes(k))
    assert out == {b"k07"}


def test_digest_and_toc_components(tmp_path, capsys):
    """-Digest.sha1 records the sha1 of the PHYSICAL Data.db bytes
    (accumulated while streaming, both compressed and plain), -TOC.txt
    lists the components, and verify-digest catches a flipped byte."""
    import hashlib

    from cassandra_sstable_to_protocolbuf_spark.__main__ import main

    parts = [{"key": b"k%03d" % i,
              "cells": [{"name": b"c", "kind": "LIVE", "timestamp": 1,
                         "value": b"v" * 50}]} for i in range(200)]
    for cf, comp in (("plain", None), ("lz", "lz4")):
        data = write_sstable(str(tmp_path), 1, parts, cf=cf,
                             compression=comp)
        base = data[:-len(N.DATA_SUFFIX)]
        recorded = open(base + N.DIGEST_SUFFIX).read().split()[0]
        actual = hashlib.sha1(open(data, "rb").read()).hexdigest()
        assert recorded == actual, f"{cf}: digest not over physical bytes"
        toc = open(base + N.TOC_SUFFIX).read().splitlines()
        assert "Data.db" in toc and "Index.db" in toc and "TOC.txt" in toc
        assert ("CompressionInfo.db" in toc) == (comp == "lz4")
        assert N.verify_digest(data) is True

    assert main(["verify-digest", str(tmp_path)]) == 0
    assert "2 sstable(s), 0 digest failure(s)" in capsys.readouterr().out

    # flip one byte of the plain table: the sweep must fail loudly
    bad = str(tmp_path / ("ks-plain-ka-1" + N.DATA_SUFFIX))
    with open(bad, "r+b") as f:
        f.seek(100)
        b = f.read(1)[0]
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b ^ 0xFF]))
    assert N.verify_digest(bad) is False
    assert main(["verify-digest", str(tmp_path)]) == 1
    assert "1 digest failure(s)" in capsys.readouterr().out


def test_statistics_records_real_fp_chance(tmp_path):
    """close() must stamp the fp chance it actually built the filter
    with (the provenance key), and 1.0 only when no filter exists."""
    parts = [{"key": b"k%02d" % i, "cells": [{"name": b"c", "kind": "LIVE",
                                              "timestamp": 1, "value": b"v"}]}
             for i in range(20)]
    data = write_sstable(str(tmp_path), 1, parts, cf="withbloom")
    stats = N.read_statistics(data[:-len(N.DATA_SUFFIX)] + N.STATS_SUFFIX)
    assert stats["bloom_fp_chance"] == 0.01

    w = PerCellWriter(str(tmp_path), 2, cf="nobloom",
                      bloom_fp_chance=None)
    w.start_partition(b"k")
    w.add_cell(b"c", "LIVE", 1, b"v")
    w.end_partition()
    data2 = w.close()
    stats2 = N.read_statistics(data2[:-len(N.DATA_SUFFIX)] + N.STATS_SUFFIX)
    assert stats2["bloom_fp_chance"] == 1.0
    assert not os.path.exists(data2[:-len(N.DATA_SUFFIX)] + N.FILTER_SUFFIX)


def test_bloom_trust_is_evidence_gated(tmp_path):
    """load_trusted_bloom's two trust paths, per docstring: (1) the
    engine-private provenance mark in Statistics.db trusts at zero
    extra IO; (2) an UNMARKED filter (genuine Cassandra / third-party)
    earns trust by probe validation -- a bloom has no false negatives
    on its own keys, so one miss on a provably-present key disproves
    it, while all-hit accepts. A filter whose bits were built for
    DIFFERENT data must fail the probe and planning must fall back to
    exact index seeks, never dropping the key."""
    parts = [{"key": b"k%02d" % i, "cells": [{"name": b"c", "kind": "LIVE",
                                              "timestamp": 1, "value": b"v"}]}
             for i in range(20)]
    data = write_sstable(str(tmp_path), 1, parts, cf="foreign")
    base = data[:-len(N.DATA_SUFFIX)]
    stats = base + N.STATS_SUFFIX
    filt = base + N.FILTER_SUFFIX
    # our own: trusted via the provenance mark, no probe needed
    assert N.has_bloom_provenance_mark(stats)
    assert N.load_trusted_bloom(data) is not None

    def fresh_copy(name: str) -> str:
        """Clone the sstable under a new generation so the probe-verdict
        memo (keyed on path+mtime+size) never bleeds between cases."""
        import shutil
        d2 = str(tmp_path / name)
        os.makedirs(d2)
        for suffix in (N.DATA_SUFFIX, N.INDEX_SUFFIX, N.SUMMARY_SUFFIX,
                       N.FILTER_SUFFIX, N.STATS_SUFFIX):
            if os.path.exists(base + suffix):
                shutil.copy(base + suffix,
                            os.path.join(d2, f"ks-foreign-ka-1{suffix}"))
        return os.path.join(d2, f"ks-foreign-ka-1{N.DATA_SUFFIX}")

    # (a) Statistics.db replaced with foreign/unparseable bytes: the
    # mark is gone, but the filter's bits genuinely match this file's
    # keys, so probe validation accepts it (the real-Cassandra interop
    # path -- an authentic ka Filter.db gates here).
    d_a = fresh_copy("a")
    with open(d_a[:-len(N.DATA_SUFFIX)] + N.STATS_SUFFIX, "wb") as f:
        f.write(b"\x00\x00\x00\x09" + b"\xde\xad\xbe\xef" * 10)
    assert N.load_trusted_bloom(d_a) is not None
    # (b) Statistics.db absent entirely: same probe path, same verdict
    d_b = fresh_copy("b")
    os.unlink(d_b[:-len(N.DATA_SUFFIX)] + N.STATS_SUFFIX)
    assert N.load_trusted_bloom(d_b) is not None

    # (c) filter bits built for DIFFERENT keys: probe must refute it
    # (each probe key hits with prob ~fp_chance; 16 probes make
    # survival ~1e-32) and planning must fall back to exact seeks.
    d_c = fresh_copy("c")
    wrong = N.BloomFilter.build(20, 0.01)
    for i in range(20):
        bloom_add(wrong, b"other-%d" % i)
    wrong.write(d_c[:-len(N.DATA_SUFFIX)] + N.FILTER_SUFFIX)
    os.unlink(d_c[:-len(N.DATA_SUFFIX)] + N.STATS_SUFFIX)
    assert N.load_trusted_bloom(d_c) is None
    assert N.load_bloom(d_c) is not None  # the component itself parses

    # untrusted bloom => exact index fallback still finds the key
    reader = N.SSTableNativeReader(os.path.dirname(d_c), 4096)
    reader.pushed_keys = {b"k07"}
    splits = reader.partitions()
    assert len(splits) == 1

    # the marked fast path must not be spoofable by a toc that merely
    # collides on the ordinal without the magic body
    d_d = fresh_copy("d")
    stats_d = d_d[:-len(N.DATA_SUFFIX)] + N.STATS_SUFFIX
    import struct as _s
    with open(stats_d, "wb") as f:
        f.write(_s.pack(">i", 1))
        f.write(_s.pack(">ii", N._BLOOM_PROVENANCE_ORDINAL, 12))
        f.write(b"not-the-magic-body-at-all")
    assert not N.has_bloom_provenance_mark(stats_d)
    # ...but the filter is still genuinely right for the data, so the
    # probe path trusts it anyway
    assert N.load_trusted_bloom(d_d) is not None

    # sanity: untouched original filter still round-trips as written
    assert N.BloomFilter.parse(filt) is not None


def test_bloom_indexing_matches_java_abs_signed():
    """Bit indexing must be Cassandra 2.0 BloomFilter.getHashBuckets,
    bit for bit: abs_java(wrap64(h1 + i*h2) % m) over SIGNED 64-bit
    longs with Java's truncating %. Pinned against an independent
    signed-arithmetic model (ctypes int64), including the h1 + i*h2
    overflow wrap and the negative-modulo half."""
    import ctypes

    def java_rem(v: int, m: int) -> int:
        # Java's % on longs truncates toward zero: the result carries
        # the dividend's sign, |result| = |v| mod m
        r = abs(v) % m
        return -r if v < 0 else r

    def java_model(key: bytes, k: int, m: int) -> list[int]:
        h1, h2 = N.murmur3_hash128(key)
        out = []
        for i in range(k):
            v = ctypes.c_int64(h1 + i * h2).value  # wrap to signed 64
            out.append(abs(java_rem(v, m)))
        return out

    b = N.BloomFilter.build(1000, 0.01)
    m = len(b.words) * 64
    for key in [b"", b"a", b"key-7", b"\xff" * 16, b"unicode-\xc3\xa9",
                b"x" * 100] + [b"probe-%d" % i for i in range(50)]:
        assert list(b._bits(key)) == java_model(key, b.hash_count, m), key


def test_probe_keys_are_provably_present(tmp_path):
    """_bloom_probe_keys must return only keys that exist in the file
    (summary sample first, Index.db head fallback), bounded by limit."""
    parts = [{"key": b"p%04d" % i, "cells": [{"name": b"c", "kind": "LIVE",
                                              "timestamp": 1, "value": b"v"}]}
             for i in range(300)]
    data = write_sstable(str(tmp_path), 1, parts)
    real = {p["key"] for p in parts}
    probes = N._bloom_probe_keys(data)
    assert probes and len(probes) <= 16
    assert set(probes) <= real
    # the summary's first/last (TOKEN-order bounds) always included
    summary = N.load_summary(data)
    assert summary["first"] in probes and summary["last"] in probes
    # fallback: no summary -> head of Index.db
    os.unlink(data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX)
    probes2 = N._bloom_probe_keys(data)
    assert probes2 and set(probes2) <= real


def test_corrupt_trusted_bloom_falls_back(tmp_path):
    """A truncated Filter.db under valid provenance degrades to exact
    index seeks rather than failing the plan."""
    parts = [{"key": b"k%02d" % i, "cells": [{"name": b"c", "kind": "LIVE",
                                              "timestamp": 1, "value": b"v"}]}
             for i in range(20)]
    data = write_sstable(str(tmp_path), 1, parts)
    filt = data[:-len(N.DATA_SUFFIX)] + N.FILTER_SUFFIX
    raw = open(filt, "rb").read()
    with open(filt, "wb") as f:
        f.write(raw[:10])
    assert N.load_trusted_bloom(data) is None
    reader = N.SSTableNativeReader(str(tmp_path), 4096)
    reader.pushed_keys = {b"k07"}
    assert len(reader.partitions()) == 1


def test_malformed_digest_component_reports_mismatch(tmp_path):
    """An empty or garbage -Digest.sha1 is a FAIL, not an IndexError:
    the verify sweep must keep going past it."""
    from cassandra_sstable_to_protocolbuf_spark.__main__ import main

    parts = [{"key": b"k", "cells": [{"name": b"c", "kind": "LIVE",
                                      "timestamp": 1, "value": b"v"}]}]
    data = write_sstable(str(tmp_path), 1, parts)
    digest = data[:-len(N.DATA_SUFFIX)] + N.DIGEST_SUFFIX
    for blob in (b"", b"   \n", b"nothex!" * 6, b"abc123\n"):
        with open(digest, "wb") as f:
            f.write(blob)
        assert N.verify_digest(data) is False, repr(blob)
    assert main(["verify-digest", str(tmp_path)]) == 1
