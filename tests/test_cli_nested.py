"""CLI `convert` over the reference's canonical nested layout.

The reference walks the input tree recursively (Runner.java:54-60), so a
`ks/table/xxx-Data.db` nesting is its primary on-disk shape.  Round 2's
CLI discovered nested files for the scan but crashed in the post-job
metrics pass (flat glob + path rejoin); this drives the full command
over a nested fixture tree and pins:

* metrics line printed for every input file (nested or not),
* empty `.proto.zst` emitted for nested dead-partition inputs
  (Runner.java:75-82 opens an output stream even when nothing is live),
* exit code 0.
"""

from __future__ import annotations

import os
import subprocess
import sys

from tests.sstable_oracle import write_sstable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args, timeout=600):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, "-m", "cassandra_sstable_to_protocolbuf_spark", *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd="/tmp")


def test_convert_nested_tree(tmp_path):
    src = str(tmp_path / "in")
    live = [{"key": b"k1", "cells": [
        {"name": b"a", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}]
    dead = [{"key": b"k2", "deletion": (100, 200), "cells": []}]
    # ks/table nesting for both a live file and an all-dead file, plus one
    # file at the top level to prove mixed depths coexist
    write_sstable(os.path.join(src, "ks1", "users"), 1, live, cf="users")
    write_sstable(os.path.join(src, "ks1", "events"), 2, dead, cf="events")
    write_sstable(src, 3, live)

    out = str(tmp_path / "out")
    r = _run("convert", src, out)
    assert r.returncode == 0, r.stderr
    # metrics for every file, keyed by basename id
    assert "ks-users-ka-1: rows=1" in r.stdout
    assert "ks-events-ka-2: rows=0" in r.stdout
    assert "ks-cf-ka-3: rows=1" in r.stdout
    assert "converted 3 sstable(s)" in r.stdout
    # outputs: live rows for the live files, empty stream for the dead one
    assert os.path.getsize(
        os.path.join(out, "ks-users-ka-1-Data.db.proto.zst")) > 0
    assert os.path.exists(
        os.path.join(out, "ks-events-ka-2-Data.db.proto.zst"))
    assert os.path.getsize(
        os.path.join(out, "ks-cf-ka-3-Data.db.proto.zst")) > 0


def test_convert_duplicate_basenames_refused(tmp_path):
    src = str(tmp_path / "in")
    live = [{"key": b"k1", "cells": [
        {"name": b"a", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}]
    # same ks/cf/generation in two subdirs -> same flat output name
    write_sstable(os.path.join(src, "a"), 1, live)
    write_sstable(os.path.join(src, "b"), 1, live)
    r = _run("convert", src, str(tmp_path / "out"))
    assert r.returncode != 0
    assert "duplicate sstable basename" in (r.stderr + r.stdout)
