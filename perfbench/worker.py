"""One benchmark client process: `python -m perfbench.worker <config.json>`.

Roles:
* setup -- start a session and report when it is ready;
* main  -- setup, then conversions back to back (closed loop, one
  client) for the measured time, each checked against the model;
* trace -- as main, then one conversion under a Spark job group read back
  from the status store, and one conversion layer by layer under spans.

The result is written as JSON to config["result"]; stdout is left to the
program and the JVM.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time


def _setup(tracer=None):
    """Session ready for conversions: the CLI's own session factory, the
    package shipped to executors, the native source registered."""
    from cassandra_sstable_to_protocolbuf_spark import session
    from cassandra_sstable_to_protocolbuf_spark.sources import (
        sstable_native as sn)

    span = tracer.span if tracer else (lambda _n: contextlib.nullcontext())
    with span("session.get_spark"):
        spark = session.get_spark()
        spark.sparkContext.setLogLevel("ERROR")
    with span("session.ensure_shipped"):
        session.ensure_shipped(spark)
    with span("session.register"):
        sn.register(spark)
    return spark


def _convert(input_dir: str, out_dir: str) -> tuple[float, float]:
    """One CLI conversion into a fresh directory; (start, end) in
    perf_counter seconds, ending when it returns after printing the
    per-file metrics."""
    from cassandra_sstable_to_protocolbuf_spark.__main__ import convert

    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(io.StringIO()):
        rc = convert(input_dir, out_dir)
    t1 = time.perf_counter()
    if rc != 0:
        raise RuntimeError(f"convert returned {rc}")
    return t0, t1


class _Loop:
    """Back-to-back conversions with per-file output checks."""

    def __init__(self, cfg: dict, model: dict):
        from perfbench.check import OutputChecker

        self.cfg = cfg
        self.checker = OutputChecker(model["files"])
        self.n_files = len(model["files"])
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.out_bytes = 0
        self.last_span: tuple[float, float] | None = None

    def one(self, tag: str, rss=None) -> float | None:
        out = os.path.join(self.cfg["work"], "out", tag)
        self.attempted += self.n_files
        try:
            if rss is not None:
                rss.active.set()
            try:
                self.last_span = _convert(self.cfg["input_dir"], out)
            finally:
                if rss is not None:
                    rss.active.clear()
        except Exception as e:  # noqa: BLE001 -- counted as failed files
            self.failed += self.n_files
            self.errors.append(f"{tag}: {type(e).__name__}: {e}"[:500])
            shutil.rmtree(out, ignore_errors=True)
            return None
        errs = self.checker.check_dir(out)
        self.failed += len(errs)
        self.errors += errs[:5]
        self.out_bytes = sum(
            os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
            if f.endswith(".proto.zst"))
        shutil.rmtree(out, ignore_errors=True)
        return self.last_span[1] - self.last_span[0]

    def warm(self, seconds: float, min_runs: int, tag: str,
             rss=None) -> list[float]:
        """Conversions back to back for `seconds`, at least `min_runs`;
        the times of those that succeeded."""
        times: list[float] = []
        t_end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < t_end or i < min_runs:
            dt = self.one(f"{tag}{i}", rss)
            i += 1
            if dt is not None:
                times.append(dt)
        return times

    def measure(self, rss=None) -> tuple[float | None, list[float]]:
        """The first conversion of the session, untimed warm-up ones (the
        JIT and the Python worker pool are still warming for the first
        few), then the measured ones."""
        first = self.one("first", rss)
        self.warm(self.cfg["warmup_s"], 1, "warmup")
        return first, self.warm(self.cfg["seconds"], self.cfg["min_runs"],
                                "warm", rss)


def _load_model(cfg: dict) -> dict:
    with open(os.path.join(cfg["input_dir"], "model.json")) as f:
        return json.load(f)


def run_main(cfg: dict, spark) -> dict:
    loop = _Loop(cfg, _load_model(cfg))
    first, warm = loop.measure()
    return {"first_convert_s": first, "convert_s": warm,
            "out_bytes": loop.out_bytes, "attempted": loop.attempted,
            "failed": loop.failed, "errors": loop.errors}


def run_trace(cfg: dict, spark, tr) -> dict:
    from perfbench import probes
    from perfbench import trace as T

    model = _load_model(cfg)
    loop = _Loop(cfg, model)
    sc = spark.sparkContext
    group = f"perfbench-{tr.run_id}"
    wall0 = time.time() - time.perf_counter()   # epoch of perf_counter 0
    with probes.PeakRss() as rss:
        first, warm = loop.measure(rss)
        sc.setJobGroup(group, "traced conversion")
        gc0 = probes.jvm_gc_s(sc)
        traced = loop.one("traced", rss)
        gc_s = probes.jvm_gc_s(sc) - gc0
    sm = probes.spark_group_metrics(sc, group)
    parent = len(tr.spans)
    if traced is not None:
        tr.add_span("main.convert", *loop.last_span, None)
    for start_ms, end_ms in sm["intervals"]:
        if None not in (start_ms, end_ms):
            tr.add_span("spark.job", start_ms / 1e3 - wall0,
                        end_ms / 1e3 - wall0, parent)

    layered_out = os.path.join(cfg["work"], "out", "layered")
    shutil.rmtree(layered_out, ignore_errors=True)
    res = T.layered_convert(tr, cfg["input_dir"], layered_out,
                            sc.defaultParallelism)
    # the layered path is checked too: same rows as the model for every
    # file the writer produced, and it produced exactly the files with rows
    want = sorted(s for s, m in model["files"].items() if m["rows"])
    layered_errors = [] if sorted(res["files"]) == want else [
        f"layered: wrote {len(res['files'])} files, expected {len(want)}"]
    layered_errors += [e for sid in res["files"]
                       if (e := loop.checker.check_file(layered_out, sid))]
    loop.attempted += len(want)
    loop.failed += len(layered_errors)
    loop.errors += layered_errors[:5]
    shutil.rmtree(layered_out, ignore_errors=True)

    atoms = sum(m["atoms"] for m in model["files"].values())
    layers = T.layer_report(tr, atoms)
    own = tr.self_times()
    job_s = probes.merged_span_s(sm["intervals"])
    untraced = statistics.median(warm) if warm else float("nan")
    traced_s = traced if traced is not None else float("nan")
    layers.update({
        "session.get_spark_s": own["session.get_spark"],
        "session.ensure_shipped_s": own["session.ensure_shipped"],
        "session.register_s": own["session.register"],
        "main.driver_s": traced_s - job_s,
        "main.files": len(model["files"]),
        "spark.job_s": job_s,
        "spark.sort_crossing_s": sm["write_stage_run_s"] - layers["pb.write_s"],
        "trace.convert_s": traced_s,
        "first_convert_s": first if first is not None else float("nan"),
        "peak_rss_mb": rss.peak / 1e6,
        "trace.overhead_s": traced_s - untraced,
        "spark.gc_s": gc_s,
    })
    for k in ("jobs", "stages", "tasks", "failed_tasks", "scan_stage_tasks",
              "write_stage_tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_write_mb", "spill_mb"):
        layers[f"spark.{k}"] = sm[k]
    return {"layers": layers, "attempted": loop.attempted,
            "failed": loop.failed, "errors": loop.errors}


def main(argv: list[str]) -> int:
    with open(argv[1]) as f:
        cfg = json.load(f)
    tr = None
    if cfg["role"] == "trace":
        from perfbench.trace import Tracer

        tr = Tracer(cfg["run_id"])
    spark = _setup(tr)
    result = {"setup_s": time.monotonic() - cfg["spawned_at"]}
    if cfg["role"] == "main":
        result.update(run_main(cfg, spark))
    elif cfg["role"] == "trace":
        result.update(run_trace(cfg, spark, tr))
        os.makedirs(os.path.join(cfg["work"], "traces"), exist_ok=True)
        tr.dump(os.path.join(cfg["work"], "traces", f"{cfg['run_id']}.json"))
    with open(cfg["result"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    rc = main(sys.argv)
    # no spark.stop(): the parent stops this session (JVM and
    # Python workers included) and waits for it, which takes a fraction
    # of the ~2 s a graceful stop and interpreter exit cost per process
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(rc)
