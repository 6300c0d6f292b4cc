#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and then traced with the
same seed and print how far the traced run's own end-to-end numbers
(``trace.latency_p50_ms``, ``trace.items_per_s``) sit from the
untraced ones.

    python3 perfbench/overhead.py --workload stream_small --seed 1 --seconds 12
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    a = ap.parse_args()
    plain = _run(a.workload, a.seed, a.seconds, 0)
    traced = _run(a.workload, a.seed, a.seconds, 1)
    for name in ("latency_p50_ms", "items_per_s"):
        u, t = plain[name]["value"], traced[f"trace.{name}"]["value"]
        print(f"{name}: untraced {u:.6g}, traced {t:.6g}, "
              f"overhead {t - u:+.6g} {plain[name]['unit']} ({(t - u) / u:+.1%})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
