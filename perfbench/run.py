"""Benchmark of the paper's job: SSTables in, `.proto.zst` files out.

    python3 perfbench/run.py --workload narrow --seed 1 --seconds 18 --trace 0

Run from the root of a source checkout.  Inputs are generated from the
seed (perfbench/gen.py), then one client process converts them with the
CLI's `convert` back to back on local[<cores>] for --seconds (a closed
loop), checking every output file against the generator's model.
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(see BENCHMARK.json).  The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.

Everything the run writes stays under <checkout>/.perfbench_work.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cassandra_sstable_to_protocolbuf_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

# setup_s is the median of this many fresh processes per run: the
# measuring session plus set-up-only processes after it
SETUP_SAMPLES = 3
# untimed warm-up conversions after the first one of a session: the JIT
# and the Python worker pool keep speeding conversions up for ~5 s
WARMUP_S = 5.0
# the session measures at least this many warm conversions
MIN_WARM_RUNS = 2
# a hung worker is killed after this long (main/trace; set-up only)
WORKER_TIMEOUT_S = {"main": 100, "trace": 100, "setup": 25}



def _env() -> dict:
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # the CLI's default driver heap is 8g; the inputs need far less,
        # and a bounded heap keeps the machine's memory free
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # keep the JVM's temp files inside the work directory as well
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return env


def _procs_in_session(sid: int) -> list[int]:
    """Live processes of a session.  Zombies have ended and only wait for
    init to collect their status, so they are not counted."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(b")") + 2:].split()
            if int(fields[3]) == sid and fields[0] not in (b"Z", b"X"):
                pids.append(int(entry))
    return pids


def _reap_session(sid: int) -> None:
    """Stop every process left in the worker's session and wait until
    none remains: the JVM, and Spark's Python daemons, which move into
    process groups of their own but stay in the session."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _procs_in_session(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while _procs_in_session(sid) and time.monotonic() < deadline:
            time.sleep(0.05)


def _run_worker(cfg: dict, tag: str) -> dict:
    cfg_path = os.path.join(WORK, f"{tag}.json")
    cfg = dict(cfg, result=os.path.join(WORK, f"{tag}.result.json"))
    if os.path.exists(cfg["result"]):
        os.unlink(cfg["result"])
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "wb") as log:
        cfg["spawned_at"] = time.monotonic()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", cfg_path], cwd=ROOT,
            env=_env(), stdin=subprocess.DEVNULL, stdout=log, stderr=log,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S[cfg["role"]])
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap_session(proc.pid)
            proc.wait()
    print(f"perfbench: {tag} exit {rc} after "
          f"{time.monotonic() - cfg['spawned_at']:.1f} s", file=sys.stderr)
    if rc != 0 or not os.path.exists(cfg["result"]):
        raise RuntimeError(f"worker {tag} failed (exit {rc}); see {log_path}")
    with open(cfg["result"]) as f:
        return json.load(f)


def _declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__main__.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a source "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen

    if args.workload not in gen.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(gen.WORKLOADS)}", file=sys.stderr)
        return 2
    declared = _declared(bool(args.trace))
    os.makedirs(WORK, exist_ok=True)
    input_dir, model = gen.cached_inputs(WORK, args.workload, args.seed)
    input_sha = gen.input_sha256(input_dir)
    in_bytes = sum(m["data_bytes"] for m in model["files"].values())
    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    cfg = {"input_dir": input_dir, "work": WORK, "seconds": args.seconds,
           "min_runs": MIN_WARM_RUNS, "warmup_s": WARMUP_S,
           "run_id": run_id}

    if args.trace:
        res = _run_worker(dict(cfg, role="trace"), f"{run_id}-trace")
        values = res["layers"]
    else:
        res = _run_worker(dict(cfg, role="main"), f"{run_id}-main")
        setups = [res["setup_s"]] + [
            _run_worker(dict(cfg, role="setup"), f"{run_id}-setup{i}")
            ["setup_s"] for i in range(1, SETUP_SAMPLES)]
        convert_s = (statistics.median(res["convert_s"]) if res["convert_s"]
                     else math.nan)
        values = {
            "setup_s": statistics.median(setups),
            "convert_s": convert_s,
            "input_mb_per_s": in_bytes / 1e6 / convert_s,
            "output_ratio": res["out_bytes"] / in_bytes,
        }
    if set(values) != set(declared):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(declared))}")
    for err in res["errors"]:
        print(f"check: {err}", file=sys.stderr)
    metrics = {k: {"value": v if math.isfinite(v) else None,
                   "unit": declared[k]} for k, v in values.items()}
    result = {
        "correct": res["failed"] == 0 and all(
            m["value"] is not None for m in metrics.values()),
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": metrics,
    }
    print(f"workload={args.workload} seed={args.seed} "
          f"input_sha256={input_sha} input_bytes={in_bytes} "
          f"generator={gen.generator_digest()}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
