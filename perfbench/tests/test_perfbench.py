"""Tests of the benchmark itself: its input model and its output checker.

Run from the checkout root:  python3 -m pytest perfbench/tests -q
No Spark session is started: the engine's reader and writer are driven
in-process, the same way the traced run's layered conversion drives them.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pytest

from perfbench import check, gen, trace

TINY = {
    "narrow": dict(gen.WORKLOADS["narrow"], files=2, partitions=300,
                   range_tombstones=0.1),
    "wide": dict(gen.WORKLOADS["wide"], files=1, partitions=2,
                 cells_per_partition=1500),
    "many_files": dict(gen.WORKLOADS["many_files"], files=10, partitions=8),
}


@pytest.fixture(params=sorted(TINY))
def tiny_input(request, tmp_path, monkeypatch):
    monkeypatch.setitem(gen.WORKLOADS, request.param, TINY[request.param])
    d = tmp_path / "in"
    d.mkdir()
    return str(d), gen.generate(request.param, 7, str(d))


def _engine_scan(input_dir: str) -> dict:
    """(rows, cells, digest) per file from the engine's own native scan
    with the live filter pushed down: one Row per PARTITION marker, LIVE
    cells in scan order."""
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        SSTableNativeReader)

    reader = SSTableNativeReader(input_dir, None, live_only=True)
    rows: dict[str, dict[bytes, list]] = {}
    for split in reader.partitions():
        for b in reader.read(split):
            for r in b.to_pylist():
                file_rows = rows.setdefault(r["sstable_id"], {})
                if r["cell_kind"] == "PARTITION":
                    file_rows[r["key"]] = []
                elif r["cell_kind"] == "LIVE":
                    file_rows[r["key"]].append(
                        (r["name"], r["value"], r["writeTime"]))
    out = {}
    for sid, file_rows in rows.items():
        d = check.RowSetDigest()
        for key, cells in file_rows.items():
            d.add(key, cells)
        out[sid] = d.summary()
    return out


def test_model_matches_engine_scan(tiny_input):
    input_dir, model = tiny_input
    scanned = _engine_scan(input_dir)
    for sid, want in model["files"].items():
        got = scanned.get(sid, check.RowSetDigest().summary())
        assert got == {k: want[k] for k in ("rows", "cells", "digest")}, sid


def test_inputs_cover_the_live_rule(tmp_path, monkeypatch):
    """Every case of the live rule occurs in the generated inputs."""
    fc = gen._file_cells(np.random.default_rng(0), TINY["narrow"], 0, False,
                         b"x" * 4096)
    kinds, starts = fc["kinds"], fc["starts"]
    assert set(np.unique(kinds).tolist()) == {0, 1, 2, 3}
    assert fc["deleted"].any() and fc["with_rt"].any()
    live_cells = np.add.reduceat((kinds == 0).astype(int), starts[:-1]) \
        * (np.diff(starts) > 0)
    # a live partition whose cells all drop still yields an (empty) Row
    assert (~fc["deleted"] & (live_cells == 0)).any()
    monkeypatch.setitem(gen.WORKLOADS, "many_files", TINY["many_files"])
    model = gen.generate("many_files", 3, str(tmp_path))
    assert any(f["rows"] == 0 for f in model["files"].values())


def test_generation_is_seeded(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.WORKLOADS, "narrow", TINY["narrow"])
    a, b, c = (tmp_path / n for n in "abc")
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        d.mkdir()
        gen.generate("narrow", seed, str(d))
    assert gen.input_sha256(str(a)) == gen.input_sha256(str(b))
    assert gen.input_sha256(str(a)) != gen.input_sha256(str(c))


@pytest.fixture(scope="module")
def converted(tmp_path_factory):
    """A narrow input and its conversion by the engine's own writer."""
    root = tmp_path_factory.mktemp("conv")
    saved = gen.WORKLOADS["narrow"]
    gen.WORKLOADS["narrow"] = TINY["narrow"]
    try:
        model = gen.generate("narrow", 9, str(root / "in"))
    finally:
        gen.WORKLOADS["narrow"] = saved
    out = root / "out"
    trace.layered_convert(trace.Tracer("test"), str(root / "in"), str(out),
                          scan_parallelism=2)
    return model, str(out)


def _copy(src: str, dst) -> str:
    shutil.copytree(src, dst)
    return str(dst)


def _one_output(d: str) -> str:
    return os.path.join(d, sorted(os.listdir(d))[0])


def test_checker_accepts_engine_output(converted):
    model, out = converted
    assert check.OutputChecker(model["files"]).check_dir(out) == []


def test_layer_self_times_account_for_the_layered_wall(tmp_path):
    """The layers' self times never overlap: with the remainder they sum
    to the root span, and the remainder is not negative."""
    tr = trace.Tracer("test")
    with pytest.MonkeyPatch.context() as mp:
        mp.setitem(gen.WORKLOADS, "wide", TINY["wide"])
        model = gen.generate("wide", 4, str(tmp_path / "in"))
    trace.layered_convert(tr, str(tmp_path / "in"), str(tmp_path / "out"),
                          scan_parallelism=2)
    rep = trace.layer_report(tr, 1)
    selfs = [v for k, v in rep.items() if k.endswith("_s") and k not in (
        "trace.layered_s", "trace.remainder_s", "native.read_s",
        "pb.write_s")]
    assert all(v >= 0 for v in selfs)
    assert rep["trace.remainder_s"] >= 0
    assert sum(selfs) + rep["trace.remainder_s"] == pytest.approx(
        rep["trace.layered_s"])
    assert rep["pb.files"] == len(model["files"])


def test_checker_rejects_truncated_output(converted, tmp_path):
    model, out = converted
    bad = _copy(out, tmp_path / "t")
    path = _one_output(bad)
    size = os.path.getsize(path)
    with open(path, "r+b") as f:
        f.truncate(size * 2 // 3)
    errs = check.OutputChecker(model["files"]).check_dir(bad)
    assert len(errs) == 1 and os.path.basename(path).split("-Data")[0] in errs[0]


@pytest.mark.parametrize("where", ["compressed", "payload"])
def test_checker_rejects_flipped_byte(converted, tmp_path, where):
    model, out = converted
    bad = _copy(out, tmp_path / where)
    path = _one_output(bad)
    if where == "compressed":
        with open(path, "r+b") as f:
            data = bytearray(f.read())
            data[len(data) // 2] ^= 0x40
            f.seek(0)
            f.write(data)
    else:
        # a valid zstd stream around a payload with one byte changed
        # tests the decoded comparison, not just the codec's own checks
        payload = bytearray(check.read_stream(path))
        payload[len(payload) // 2] ^= 0x01
        with pa.output_stream(path, compression="zstd") as f:
            f.write(bytes(payload))
    checker = check.OutputChecker(model["files"])
    assert checker.check_dir(out) == []        # proves the good streams
    assert len(checker.check_dir(bad)) == 1


def test_checker_rejects_missing_and_extra_files(converted, tmp_path):
    model, out = converted
    bad = _copy(out, tmp_path / "m")
    path = _one_output(bad)
    os.rename(path, os.path.join(bad, "stranger" + check.OUTPUT_SUFFIX))
    errs = check.OutputChecker(model["files"]).check_dir(bad)
    assert len(errs) == 2
