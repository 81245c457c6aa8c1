"""CLI --continue-on-error: corrupt files report and are skipped, good
files still convert (reference's per-file error channel)."""

from __future__ import annotations

import os
import subprocess
import sys

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from tests.sstable_oracle import write_sstable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args, timeout=600):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, "-m", "cassandra_sstable_to_protocolbuf_spark", *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd="/tmp")


def test_continue_on_error_skips_corrupt_file(tmp_path):
    src = str(tmp_path / "in")
    good = [{"key": b"k1", "cells": [
        {"name": b"a", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}]
    write_sstable(src, 1, good)
    bad_data = write_sstable(src, 2, good, compression="lz4")
    raw = bytearray(open(bad_data, "rb").read())
    raw[8] ^= 0xFF  # corrupt the compressed chunk -> checksum failure
    open(bad_data, "wb").write(bytes(raw))

    out = str(tmp_path / "out")
    r = _run("convert", "--continue-on-error", src, out)
    assert r.returncode == 1  # failures reported in exit code
    assert "ERROR converting ks-cf-ka-2-Data.db" in r.stderr
    assert "ks-cf-ka-1: rows=1" in r.stdout  # good file still converted
    assert os.path.exists(os.path.join(out, "ks-cf-ka-1-Data.db.proto.zst"))
    assert not os.path.exists(os.path.join(out, "ks-cf-ka-2-Data.db.proto.zst"))


def test_manifest_cli_lifecycle(tmp_path, capsys):
    """Operational manifest commands: init seeds from the walk,
    status agrees, an out-of-band raw copy flips status to 1,
    reconcile repairs it, status is clean again."""
    import shutil

    import pytest

    from cassandra_sstable_to_protocolbuf_spark.__main__ import main

    d = str(tmp_path)
    parts = [{"key": b"k%02d" % i,
              "cells": [{"name": b"c", "kind": "LIVE", "timestamp": 1,
                         "value": b"v"}]} for i in range(10)]
    a = write_sstable(d, 1, parts)
    assert main(["manifest", "init", d]) == 0
    assert "1 sstables recorded" in capsys.readouterr().out
    assert main(["manifest", "status", d]) == 0

    base = a[:-len(N.DATA_SUFFIX)]
    for sfx in N.ALL_SUFFIXES:
        if os.path.exists(base + sfx):
            shutil.copyfile(base + sfx,
                            base.replace("-ka-", "-ka-9") + sfx)
    capsys.readouterr()
    assert main(["manifest", "status", d]) == 1  # unrecorded addition
    assert "unrecorded (file, no entry): 1" in capsys.readouterr().out
    assert main(["manifest", "reconcile", d]) == 0
    assert "1 out-of-band addition" in capsys.readouterr().out
    assert main(["manifest", "status", d]) == 0

    with pytest.raises(SystemExit):
        main(["manifest", "frob", d])
    with pytest.raises(SystemExit):
        main(["manifest", "init", str(tmp_path / "nope")])
