#!/usr/bin/env python3
"""Benchmark of the tick engine, driven through its public entry points.

    python3 perfbench/run.py --workload tick_scan --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. For one workload it writes the seeded input
tables under ``.perfbench_work/``, starts the measured process
(``measure.py``) on ``local[<slots>]`` and waits for it and every process
it started to end. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics.

``--smoke`` runs every workload, traced, at the sf0.001 row counts with
the oracle check, prints both result lines of each run and its wall time,
and exits non-zero if any query failed.

Exits non-zero without a result line when the engine package is not
beside this directory or any run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import inputs
import spec

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_LIMIT_S = 170


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of the group to end; kill what outlives
    ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: float, trace: int, rows: str, t_start: float) -> dict:
    """Run one workload in a fresh measured process; return its result."""
    w = spec.WORKLOADS[workload]
    run_dir = os.path.join(WORK, f"{workload}-{seed}-{rows}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    inputs.write_inputs(data, seed, spec.ROWS[rows], w["tables"], spec.files_for(workload))

    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        # Python workers import the engine to run its pandas UDFs; a path
        # inserted into sys.path in the Spark driver does not reach them
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(spec.slots(workload)),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # no hsperfdata file under /tmp: the JVM writes only below the run dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    out = os.path.join(run_dir, "result.json")
    spans = os.path.join(WORK, "spans", f"{workload}-seed{seed}-{rows}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    log_path = os.path.join(run_dir, "measure.log")
    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"),
        "--workload", workload, "--data", data, "--seconds", str(seconds),
        "--trace", str(trace), "--out", out, "--spans-out", spans,
    ]
    code = None
    with open(log_path, "w") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (t0 - t_start)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc.pid, 0.0 if code is None else 15.0)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        shutil.rmtree(run_dir, ignore_errors=True)
        why = "timed out" if code is None else f"exited {code}"
        raise RuntimeError(f"{workload}: measured process {why}\n{tail}")
    with open(out) as f:
        result = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def result_line(result: dict, trace: int) -> dict:
    if trace:
        metrics = {k: {"value": result["layers"][k], "unit": u} for k, u in spec.PER_LAYER.items()}
    else:
        metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in spec.END_TO_END.items()}
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def summary(workload: str, result: dict, wall_s: float) -> str:
    m = result["metrics"]
    return (
        f"# {workload}: setup_s={m['setup_s']:.3f} pass_s={m['pass_s']:.3f} "
        f"failed_frac={result['failed']}/{result['attempted']} "
        f"passes={result['passes']} session_s={result['session_s']:.2f} "
        f"import_s={result['import_s']:.2f} "
        f"oracle_s={result['oracle_s']:.2f} wall_s={wall_s:.1f}"
    )


def smoke() -> int:
    """Every workload at sf0.001 row counts, traced: one run covers the
    untraced passes, the traced passes and the oracle check."""
    bad = 0
    for workload in spec.WORKLOADS:
        t = time.monotonic()
        result = run_one(workload, 1, 1.0, 1, "smoke", t)
        print(summary(workload, result, time.monotonic() - t))
        for name, failure in result["failures"].items():
            print(f"#   FAILED {name}: {failure}")
        for trace in (0, 1):
            print(json.dumps(result_line(result, trace)))
        bad += result["failed"] > 0
    return 1 if bad else 0


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, spec.PKG)):
        print(f"perfbench: engine package {spec.PKG} not found in {ROOT}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    result = run_one(args.workload, args.seed, args.seconds, args.trace, "full", t_start)
    print(summary(args.workload, result, time.monotonic() - t_start))
    for name, failure in result["failures"].items():
        print(f"# FAILED {name}: {failure}")
    for name, times in result["query_s"].items():
        print(f"#   {name}: cold {result['cold_s'][name]:.2f} warm " + " ".join(f"{t:.2f}" for t in times))
    print(json.dumps(result_line(result, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
