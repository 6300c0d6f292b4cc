#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_small --seed 1 --seconds 12 --trace 0

Runs one workload in a child process (``worker.py``) under a fresh
temp root inside the checkout, prints a human-readable report, and as
the LAST stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer ledger with ``--trace 1`` (spans and the streaming
progress summary go to ``.perfbench_out/``).  Exits non-zero, printing
no result, when the run cannot complete."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ledger  # noqa: E402
import workloads  # noqa: E402

TIMEOUT_S = 170
# C1 only.  With the default tiered C2 the per-file latency kept falling
# for 40+ files and each JVM settled at its own level (median latency
# IQR across seeds 22 % on stream_small after 18 s of warm-up); with C1
# latency is flat after the first file and the IQR was 5.5 %.  The
# benchmark can afford neither C2's warm-up nor its run-to-run spread.
JIT = "-XX:TieredStopAtLevel=1"
# no hsperfdata file: the JVM writes it under /tmp, outside the run
JVM_OPTS = f"{JIT} -XX:-UsePerfData"
# name -> unit, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "build_s": "s",
    "items_per_s": "1/s",
    "latency_p50_ms": "ms",
    "ref_match_frac": "ratio",
    "ops_ok_frac": "ratio",
}


def _reap(pgid: int, deadline: float) -> None:
    """Kill whatever is left in the worker's process group and wait
    until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def report(r: dict) -> None:
    """Human-readable lines: every end-to-end metric by name and unit,
    under the workload-specific names too."""
    e = r["e2e"]
    items = r["items"]
    quality = "detect_match_frac" if items == "events" else "recall_at_10"
    n = len(r["timed_latency_s"])
    print(f"# workload {r['workload']} seed {r['seed']}: {n} timed ops "
          f"after {r['warm_ops']} warm-up ops, correct={r['correct']}")
    print(f"# settings {json.dumps(r['settings'], sort_keys=True)}")
    for name, unit in END_TO_END.items():
        alias = {"items_per_s": f"{items}_per_s", "ref_match_frac": quality}.get(name)
        extra = f" ({alias})" if alias else ""
        print(f"{name}{extra} = {e[name]:.6g} {unit}")
    tail = r["tail"]
    print(
        f"latency tail: p{tail[0]:g} = {1000 * tail[1]:.1f} ms (n={n})"
        if tail
        else f"latency tail: refused, n={n} leaves fewer than 10 samples beyond p75"
    )
    if r["drift"] is not None:
        print(f"drift (2nd-half / 1st-half median latency) = {r['drift']:.3f}")
    print(f"setup_s each = {[round(s, 3) for s in r['setup_s_each']]}; "
          f"build_s cold = {r['cold_build_s']:.3f}, warm = "
          f"{[round(s, 3) for s in r['build_s_each']]}")
    print(f"latency ms, warm-up = {[round(1000 * x) for x in r['warm_latency_s']]}, "
          f"timed = {[round(1000 * x) for x in r['timed_latency_s']]}")
    if r.get("error"):
        print(f"error: {r['error']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(REPO, "vectorsearch_scylla_spark")):
        print("perfbench: vectorsearch_scylla_spark not found next to perfbench/",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(
        REPO, ".perfbench_tmp", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = dict(
        os.environ,
        TMPDIR=run_dir,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir} {JVM_OPTS}",
        PYTHONUNBUFFERED="1",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--run-dir", run_dir, "--t0", repr(t0),
    ]
    # a TERM to this process must not orphan the worker and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    result = code = None
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=TIMEOUT_S - (time.monotonic() - t0))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _reap(proc.pid, time.monotonic() + 5)
            proc.wait()
        result_path = os.path.join(run_dir, "result.json")
        if code == 0 and os.path.isfile(result_path):
            with open(result_path) as f:
                result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))  # only if no other run uses it
    if result is None:
        print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}",
              file=sys.stderr)
        return 1

    report(result)
    if a.trace:
        out_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{a.workload}-s{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(result, f)
        print(f"trace written to {os.path.relpath(trace_path, REPO)}")
        metrics = {
            k: {"value": result["layers"][k], "unit": u} for k, u in ledger.PER_LAYER.items()
        }
        for k, m in metrics.items():
            print(f"{k} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {k: {"value": result["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
