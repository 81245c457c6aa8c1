"""CLI driver: the reference's end-to-end contract through the real
command-line surface (subprocess, not imports)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.sstable_oracle import (PerCellWriter, iter_delimited,
                                  scan_partitions_eager, write_sstable)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args, timeout=300):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, "-m", "cassandra_sstable_to_protocolbuf_spark", *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd="/tmp")


def test_usage_on_bad_args():
    r = _run("convert", "only-one-arg")
    assert r.returncode != 0
    assert "usage:" in r.stderr


def test_missing_input_path():
    r = _run("convert", "/nonexistent/path", "/tmp/out")
    assert r.returncode != 0
    assert "does not exist" in r.stderr


def test_convert_end_to_end(tmp_path):
    src = str(tmp_path / "sst_in")
    write_sstable(src, 1, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 10, "value": b"x"},
            {"name": b"b", "kind": "DELETED", "timestamp": 11},
        ]},
        {"key": b"k2", "deletion": (1, 2), "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 12, "value": b"dead"}]},
    ])
    out = str(tmp_path / "pb_out")
    r = _run("convert", src, out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "converted 1 sstable(s)" in r.stdout
    assert "rows=1 cells=1" in r.stdout  # k2 dead; k1 keeps only LIVE cell
    files = os.listdir(out)
    assert files == ["ks-cf-ka-1-Data.db.proto.zst"]

    # decode the output with the wire codec directly
    import pyarrow as pa

    from tests.sstable_oracle import decode_row

    with pa.input_stream(os.path.join(out, files[0]), compression=None) as raw, \
            pa.CompressedInputStream(raw, "zstd") as zin:
        rows = [decode_row(b) for b in iter_delimited(zin)]
    assert rows == [(b"k1", [(b"a", b"x", 10)])]


@pytest.mark.parametrize("flags", [(), ("--continue-on-error",)])
def test_convert_discovers_like_the_scan(tmp_path, flags):
    """`convert` sees exactly the files the scan reads: once an OPTIMIZE
    transaction has committed gen 1+2 -> gen 3 (its inputs not yet
    unlinked), the replaced generations get no output file and no
    metrics line -- in the one-job path and the per-file error loop."""
    from cassandra_sstable_to_protocolbuf_spark import txnlog

    src = str(tmp_path / "sst_in")

    def cells(ts):
        return [{"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": ts, "value": b"v"}]}]

    old = [write_sstable(src, gen, cells(gen)) for gen in (1, 2)]
    new = write_sstable(src, 3, cells(2))
    txnlog.begin(src, "opt-1", "opt-1", old)
    txnlog.commit(src, "opt-1", [new])

    out = str(tmp_path / "pb_out")
    r = _run("convert", *flags, src, out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert os.listdir(out) == ["ks-cf-ka-3-Data.db.proto.zst"]
    assert "ks-cf-ka-3: rows=1 cells=1" in r.stdout
    assert "ks-cf-ka-1:" not in r.stdout and "ks-cf-ka-2:" not in r.stdout
    assert "converted 1 sstable(s)" in r.stdout


def test_compact_merges_generations_lww(tmp_path):
    """`compact` merges overlapping generations into one reconciled
    sstable: the newer write wins, tombstoned data is dropped, and the
    output is a genuine parseable sstable."""
    src = str(tmp_path / "sst_in")
    write_sstable(src, 1, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 10, "value": b"old"},
            {"name": b"b", "kind": "LIVE", "timestamp": 11, "value": b"keep"},
        ]},
        {"key": b"k2", "deletion": (1, 2), "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 12, "value": b"dead"}]},
    ])
    write_sstable(src, 2, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 20, "value": b"new"}]},
    ])
    out = str(tmp_path / "compacted")
    r = _run("compact", src, out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "compacted into 1 sstable(s)" in r.stdout
    assert "compacted-0: partitions=1 cells=2" in r.stdout

    data = os.path.join(out, "ks-compacted-0-ka-1-Data.db")
    parts = list(scan_partitions_eager(data, 0, os.path.getsize(data)))
    assert [p["key"] for p in parts] == [b"k1"]
    got = {(c["name"], c["value"], c["timestamp"]) for c in parts[0]["cells"]}
    assert got == {(b"a", b"new", 20), (b"b", b"keep", 11)}


def test_to_parquet_lands_lww_partitioned(tmp_path):
    """`to-parquet` lands live, LWW-reconciled cells as parquet
    partitioned by origin sstable: gen-2's newer write for (k1, a) must
    win over gen-1's, dead partitions and tombstones must not land, and
    the output directory must be hive-partitioned by sstable_id."""
    src = str(tmp_path / "sst_in")
    write_sstable(src, 1, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 10, "value": b"old"},
            {"name": b"b", "kind": "DELETED", "timestamp": 11},
        ]},
        {"key": b"k2", "deletion": (1, 2), "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 12, "value": b"dead"}]},
    ])
    write_sstable(src, 2, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 20, "value": b"new"}]},
        {"key": b"k3", "cells": [
            {"name": b"d", "kind": "LIVE", "timestamp": 5, "value": b"v3"}]},
    ])
    out = str(tmp_path / "landed")
    r = _run("to-parquet", src, out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "landed 2 reconciled cells" in r.stdout
    # hive partition dirs by origin sstable of the WINNING cell
    subdirs = sorted(d for d in os.listdir(out) if d.startswith("sstable_id="))
    assert subdirs == ["sstable_id=ks-cf-ka-2"]

    import duckdb

    got = duckdb.connect().execute(
        f"SELECT key, name, value, writeTime, sstable_id "
        f"FROM read_parquet('{out}/**/*.parquet', hive_partitioning=1) "
        f"ORDER BY key").fetchall()
    assert got == [
        (b"k1", b"a", b"new", 20, "ks-cf-ka-2"),
        (b"k3", b"d", b"v3", 5, "ks-cf-ka-2"),
    ]


def test_merge_and_delete_keys_cli(tmp_path):
    """The landed-maintenance lifecycle through the real CLI:
    to-parquet --by-shard lands the base, merge upserts a delta sstable
    copy-on-write, delete-keys removes a victim key."""
    base_sst = str(tmp_path / "base_sst")
    write_sstable(base_sst, 1, [
        {"key": b"alpha", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 10, "value": b"old"}]},
        {"key": b"beta", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 10, "value": b"keep"}]},
    ])
    delta_sst = str(tmp_path / "delta_sst")
    write_sstable(delta_sst, 2, [
        {"key": b"alpha", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 99, "value": b"new"}]},
        {"key": b"gamma", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 5, "value": b"add"}]},
    ])
    landed = str(tmp_path / "landed")

    r = _run("to-parquet", "--by-shard", base_sst, landed)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "landed 2 reconciled cells" in r.stdout

    r = _run("merge", delta_sst, landed)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "merged delta into" in r.stdout

    keys_file = tmp_path / "victims.txt"
    keys_file.write_text("beta\n")
    r = _run("delete-keys", str(keys_file), landed)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "deleted keys from 1 shard(s)" in r.stdout

    import duckdb
    rows = {k.decode() if isinstance(k, (bytes, bytearray)) else k:
            (v.decode() if isinstance(v, (bytes, bytearray)) else v, wt)
            for k, v, wt in duckdb.sql(
                f"SELECT key, value, writeTime FROM "
                f"read_parquet('{landed}/*/*.parquet')").fetchall()}
    assert rows == {"alpha": ("new", 99), "gamma": ("add", 5)}


def test_merge_requires_existing_landed_dir(tmp_path):
    sst = str(tmp_path / "sst")
    write_sstable(sst, 1, [
        {"key": b"k", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}])
    r = _run("merge", sst, str(tmp_path / "missing"))
    assert r.returncode != 0
    assert "does not exist" in r.stderr


def test_delete_keys_strips_crlf(tmp_path):
    """A Windows-authored victims file (CRLF line endings) must still
    delete its keys -- b'key\\r' matching nothing would report success
    while every victim row remained."""
    base_sst = str(tmp_path / "base_sst")
    write_sstable(base_sst, 1, [
        {"key": b"victim", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"x"}]},
        {"key": b"other", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"y"}]},
    ])
    landed = str(tmp_path / "landed")
    r = _run("to-parquet", "--by-shard", base_sst, landed)
    assert r.returncode == 0, r.stderr[-2000:]

    keys_file = tmp_path / "victims.txt"
    keys_file.write_bytes(b"victim\r\n")
    r = _run("delete-keys", str(keys_file), landed)
    assert r.returncode == 0, r.stderr[-2000:]

    import duckdb
    keys = {k.decode() if isinstance(k, (bytes, bytearray)) else k
            for (k,) in duckdb.sql(
                f"SELECT key FROM read_parquet('{landed}/*/*.parquet')"
            ).fetchall()}
    assert keys == {"other"}


def test_versioned_lifecycle_cli(tmp_path):
    """init-versioned -> merge-versioned -> table-history -> restore ->
    vacuum, end-to-end through the command line: time travel and
    rollback must work from the user surface, not just the library."""
    base = str(tmp_path / "base")
    write_sstable(base, 1, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 10, "value": b"v1"}]},
        {"key": b"k2", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 10, "value": b"v2"}]},
    ])
    delta = str(tmp_path / "delta")
    write_sstable(delta, 2, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 20, "value": b"NEW"}]},
    ])
    table = str(tmp_path / "vt")

    r = _run("init-versioned", base, table)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "committed v0: 2 cells" in r.stdout

    r = _run("merge-versioned", delta, table)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "committed v1 (previous v0 still readable)" in r.stdout

    r = _run("table-history", table)
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.strip().splitlines()
    assert lines[0].startswith("v0:")
    assert lines[1].startswith("v1:") and "<- current" in lines[1]

    # the bad "merge" is undone by restoring v0's content as v2
    r = _run("restore", "0", table)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "restored content of v0 as new version v2" in r.stdout

    r = _run("vacuum", "1", table)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "vacuum reclaimed" in r.stdout

    r = _run("table-history", table)
    assert r.returncode == 0
    assert "<- current" in r.stdout and "v1:" not in r.stdout

    # content check without a subprocess JVM: v2 == the original base
    from cassandra_sstable_to_protocolbuf_spark.versioned import read_manifest
    m = read_manifest(table, 2)
    assert sum(len(fl) for fl in m["files"].values()) > 0


def test_versioned_cli_rejects_bad_operands(tmp_path):
    r = _run("restore", "notanumber", str(tmp_path))
    assert r.returncode != 0
    r = _run("vacuum", "0", str(tmp_path))
    assert r.returncode != 0
    r = _run("table-history", str(tmp_path / "nope"))
    assert r.returncode != 0


def test_versioned_mor_and_compact_cli(tmp_path):
    """merge-versioned --mor appends O(delta) files; compact-versioned
    folds the debt -- both from the command line."""
    base = str(tmp_path / "base")
    write_sstable(base, 1, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 10, "value": b"v1"}]},
    ])
    delta = str(tmp_path / "delta")
    write_sstable(delta, 2, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 20, "value": b"NEW"}]},
    ])
    table = str(tmp_path / "vt")
    r = _run("init-versioned", base, table)
    assert r.returncode == 0, r.stderr[-2000:]
    r = _run("merge-versioned", "--mor", delta, table)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "committed merge-on-read v1" in r.stdout

    from cassandra_sstable_to_protocolbuf_spark.versioned import read_manifest
    m = read_manifest(table, 1)
    assert any(len(fl) == 2 for fl in m["files"].values())  # MoR debt

    r = _run("compact-versioned", table)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "compacted into v2" in r.stdout
    m2 = read_manifest(table, 2)
    assert all(len(fl) == 1 for fl in m2["files"].values())

    # already compact -> no-op, no new version
    r = _run("compact-versioned", table)
    assert r.returncode == 0
    assert "already compact: table stays at v2" in r.stdout


def test_build_corpus_end_to_end(tmp_path):
    """The composed training-corpus build through the real CLI: gates ->
    dedup -> leakage-safe split -> packing, landed as split-partitioned
    parquet with a JSON yield summary."""
    import json

    out = str(tmp_path / "corpus")
    r = _run("build-corpus", "/root/testdata/sf0.001", out, timeout=420)
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["kept_docs"] < summary["input_docs"]  # gates really gate
    assert set(summary["splits"]) == {"train", "val", "test"}
    for s in summary["splits"].values():
        assert s["docs"] > 0 and s["seqs"] > 0 and s["tokens"] > 0

    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT split, COUNT(*), COUNT(DISTINCT doc_id) FROM "
        f"read_parquet('{out}/*/*.parquet', hive_partitioning=1) GROUP BY 1"
    ).fetchall()
    assert {r0[0] for r0 in rows} == {"train", "val", "test"}
    # docs land in exactly one split and match the summary
    total = sum(r0[1] for r0 in rows)
    assert total == summary["kept_docs"]
    assert all(r0[1] == r0[2] for r0 in rows)  # no doc duplicated in a split


def test_sstable_info_driver_only(tmp_path):
    """sstablemetadata-style CLI report: reads ONLY metadata components
    (no Spark session -- the command must answer in interactive time)."""
    src = str(tmp_path / "sst_in")
    write_sstable(src, 1, [
        {"key": b"k%03d" % i, "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}
        for i in range(300)], compression="lz4")
    r = _run("sstable-info", src, timeout=60)
    assert r.returncode == 0, r.stderr[-800:]
    line = r.stdout.strip()
    assert "partitions=300" in line
    assert "compressed=yes" in line
    assert "summary=3@128" in line  # ceil(300/128) sampled entries
    assert "partitioner=RandomPartitioner" in line
    # narrow rows: no promoted entries; name bounds stamped by the writer
    assert "promoted=0" in line
    assert "names=[c..c]" in line


def test_sstable_info_reports_promoted(tmp_path):
    """A wide partition shows up in the report: promoted entry count
    and the file's [min, max] name bounds."""
    src = str(tmp_path / "sst_wide")
    write_sstable(src, 1, [
        {"key": b"w", "cells": [
            {"name": b"n%04d" % i, "kind": "LIVE", "timestamp": 1,
             "value": b"v" * 30} for i in range(100)]}],
        column_index_bytes=256)
    r = _run("sstable-info", src, timeout=60)
    assert r.returncode == 0, r.stderr[-800:]
    line = r.stdout.strip()
    assert "promoted=1" in line
    assert "names=[n0000..n0099]" in line


def test_repair_diff_cli(tmp_path):
    stale = str(tmp_path / "stale")
    synced = str(tmp_path / "synced")
    base = [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 10, "value": b"x"}]},
        {"key": b"k2", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 10, "value": b"s"}]},
    ]
    write_sstable(stale, 1, base)
    write_sstable(synced, 1, base)
    # the synced replica also got a later generation: k1 rewritten with a
    # new value, k3 created -- the stale replica missed both writes
    write_sstable(synced, 2, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 20, "value": b"y"}]},
        {"key": b"k3", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 20, "value": b"z"}]},
    ])
    r = _run("repair-diff", stale, synced)
    assert r.returncode == 1, r.stderr
    assert "2 out-of-sync row(s)" in r.stdout
    assert "divergent_value=1" in r.stdout
    assert "missing_in_stale=1" in r.stdout
    # identical replicas: in sync, exit 0
    r2 = _run("repair-diff", stale, stale)
    assert r2.returncode == 0, r2.stderr
    assert "in sync" in r2.stdout


def test_analyze_events_cli(tmp_path):
    import json

    out = str(tmp_path / "analytics")
    r = _run("analyze-events", "/root/testdata/sf0.001", out)
    assert r.returncode == 0, r.stderr
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    tables = summary["tables"]
    assert set(tables) == {"hourly", "sessions", "retention",
                           "seasonality", "journeys"}
    assert all(n > 0 for n in tables.values()), tables
    # the landed parquet is readable and row counts match the summary
    import duckdb
    con = duckdb.connect()
    for name, n in tables.items():
        got = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{out}/{name}/*.parquet')"
        ).fetchone()[0]
        assert got == n, (name, got, n)


def test_merge_into_cli(tmp_path):
    """MERGE INTO through the real CLI: one command commits upserts and
    deletes as a single version; the delete-then-upsert key comes back
    as its upsert row."""
    base_sst = str(tmp_path / "base_sst")
    write_sstable(base_sst, 1, [
        {"key": b"alpha", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 10, "value": b"old"}]},
        {"key": b"beta", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 10, "value": b"gone"}]},
        {"key": b"kappa", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 10, "value": b"keep"}]},
    ])
    delta_sst = str(tmp_path / "delta_sst")
    write_sstable(delta_sst, 2, [
        {"key": b"alpha", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 99, "value": b"new"}]},
        {"key": b"beta", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 5, "value": b"back"}]},
    ])
    table = str(tmp_path / "vt")
    r = _run("init-versioned", base_sst, table)
    assert r.returncode == 0, r.stderr[-2000:]

    keys_file = tmp_path / "victims.txt"
    keys_file.write_text("beta\n")
    r = _run("merge-into", delta_sst, str(keys_file), table)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "committed merge-into v1" in r.stdout

    import duckdb
    from cassandra_sstable_to_protocolbuf_spark.versioned import read_manifest
    m = read_manifest(table, 1)
    paths = [os.path.join(table, p) for fl in m["files"].values() for p in fl]
    rows = {bytes(k).decode(): (bytes(v).decode(), wt)
            for k, v, wt in duckdb.sql(
                f"SELECT key, value, writeTime FROM read_parquet({paths!r})"
            ).fetchall()}
    # alpha updated, kappa untouched, beta deleted from base but
    # resurrected by its own upsert cell (delete-then-upsert ordering)
    assert rows == {"alpha": ("new", 99), "kappa": ("keep", 10),
                    "beta": ("back", 5)}


def test_explain_check_and_list_cli(tmp_path):
    """Operational surface: list-queries enumerates the catalog,
    explain prints a physical plan without executing, check runs the
    engine-vs-oracle gate for one query and exits by result."""
    r = _run("list-queries")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "tpch_q1_pricing" in r.stdout and "[oracle]" in r.stdout
    assert "[rows-only]" in r.stdout

    r = _run("explain", "tpch_q6_revenue", "/root/testdata/sf0.001")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "PushedFilters" in r.stdout and "Scan parquet" in r.stdout

    r = _run("check", "tpch_q6_revenue", "/root/testdata/sf0.001")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "rows match the oracle exactly" in r.stdout

    r = _run("check", "events_approx_distinct", "/root/testdata/sf0.001")
    assert r.returncode == 3  # rows-only: no oracle to check against

    r = _run("check", "no_such_query", "/root/testdata/sf0.001")
    assert r.returncode != 0 and "unknown query" in r.stderr


def test_reshard_evolution_cli(tmp_path):
    """Partition-spec evolution from the command line: metadata-only
    reshard, MoR append under the new spec, deferred respec compaction
    relabeling the files."""
    base = str(tmp_path / "base")
    write_sstable(base, 1, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 10, "value": b"v1"}]},
        {"key": b"k2", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 10, "value": b"v2"}]},
    ])
    delta = str(tmp_path / "delta")
    write_sstable(delta, 2, [
        {"key": b"k1", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 20, "value": b"NEW"}]},
    ])
    table = str(tmp_path / "vt")
    assert _run("init-versioned", base, table).returncode == 0
    r = _run("reshard-versioned", "64", table)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "resharded to 64 shards as v1" in r.stdout
    # CoW merge refuses while mixed, loudly
    r = _run("merge-versioned", delta, table)
    assert r.returncode != 0
    assert "spec-MIXED" in r.stderr
    # MoR append works, then respec compaction restores coherence
    r = _run("merge-versioned", "--mor", delta, table)
    assert r.returncode == 0, r.stderr[-2000:]
    r = _run("compact-respec", table)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "respec-compacted into v3" in r.stdout
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        read_manifest)
    m = read_manifest(table, 3)
    assert m["spec"] == {"n_shards": 64}
    # bad operand handling
    assert _run("reshard-versioned", "zero", table).returncode != 0
    assert _run("reshard-versioned", "8").returncode != 0


def test_optimize_plan_cli(tmp_path, capsys):
    """Size-tiered planning over real component files: same-tier files
    group into merge tasks, a lone out-of-tier giant is left alone, and
    no data bytes are read (metadata plane only)."""
    from cassandra_sstable_to_protocolbuf_spark.__main__ import main

    def mk(cf, n_cells, val_len):
        parts = [{"key": b"k%04d" % i, "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 1,
             "value": b"x" * val_len}]} for i in range(n_cells)]
        write_sstable(str(tmp_path), 1, parts, cf=cf)

    for cf in ("a", "b", "c", "d"):  # one tier: four similar files
        mk(cf, 40, 100)
    mk("giant", 4000, 200)  # a different tier, alone

    assert main(["optimize-plan", str(tmp_path)]) == 0
    out = capsys.readouterr().out
    # four same-tier files, task byte cap of 2x the tier bound -> two
    # 2-file merge tasks; the giant's tier has one file, nothing to do
    assert "planned 2 merge task(s) over 5 sstable(s)" in out
    assert out.count("2 files") == 2
    # the giant is alone in its tier: a singleton bin is never planned
    assert "giant" not in out

    # empty dir fails loudly
    empty = tmp_path / "none"
    empty.mkdir()
    with pytest.raises(SystemExit):
        main(["optimize-plan", str(empty)])


def test_slice_cli(tmp_path, spark, capsys):
    """Clustering-slice export: only cells in [name_start, name_end)
    land (via the promoted-index seek path for wide partitions); an
    empty/inverted slice dies with usage-style exit 2."""
    from cassandra_sstable_to_protocolbuf_spark.__main__ import main
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        md5_token)

    d = tmp_path / "in"
    out = tmp_path / "out"
    keys = sorted([b"p1", b"q2"], key=lambda k: (md5_token(k), k))
    w = PerCellWriter(str(d), 1, cf="wide", column_index_bytes=256)
    for k in keys:
        w.start_partition(k)
        for i in range(200 if k == b"p1" else 3):
            w.add_cell(b"n%04d" % i, "LIVE", i, b"v")
        w.end_partition()
    w.close()

    assert main(["slice", str(d), "n0010", "n0020", str(out)]) == 0
    assert "landed 10 sliced cells" in capsys.readouterr().out
    names = sorted(bytes(r.name) for r in
                   spark.read.parquet(str(out)).collect())
    assert names == [b"n%04d" % i for i in range(10, 20)]

    with pytest.raises(SystemExit):
        main(["slice", str(d), "zz", "aa", str(out)])  # inverted slice
    with pytest.raises(SystemExit):
        main(["slice", str(d), "n0010", "n0020"])  # bad arg count
