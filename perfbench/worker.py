"""One benchmark run in its own process (started by ``run.py``, which
owns the temp root, the time limit and the final result line).

Sequence: three set-ups (Spark session, input generation, query
start; the first also pays interpreter and JVM start, and runs the
batch build, which the later ones reuse), untimed warm-up operations
until latency stops falling, closed-loop operations for ``--seconds``
against the last set-up, two warm re-runs of the batch build, then
untimed checks.
Writes ``result.json`` into the run directory."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

import ledger  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SETUPS = 3
REBUILDS = 2
DRIVER_MEMORY = "2g"
NPROC = len(os.sched_getaffinity(0))
MIN_WARM_OPS = 4  # stream windows are first emitted by op 3
WARM_CAP_S = 6.0


def start_spark(run_dir: str, trace: bool):
    from vectorsearch_scylla_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
            }
        )
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    spark = get_spark("perfbench", cpus=NPROC, extra_configs=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True, help="monotonic start of the run")
    a = ap.parse_args()
    trace = bool(a.trace)
    spans = ledger.Spans(trace)
    rss = ledger.RssSampler()
    if trace:
        rss.start()
    wl = workloads.make(a.workload, a.seed, a.run_dir, spans)

    setups: list[float] = []
    cold_build_s = session_start_s = 0.0
    for rep in range(SETUPS):
        t0 = a.t0 if rep == 0 else time.monotonic()
        with spans.span("session.start"):
            spark, conf = start_spark(a.run_dir, trace)
            if rep == 0:
                session_start_s = time.monotonic() - a.t0
        with spans.span("generate"):
            wl.generate(rep)
        if rep == 0:
            with spans.span("build"):
                tb = time.monotonic()
                wl.build(spark, "build")
                cold_build_s = time.monotonic() - tb
        with spans.span("query.start"):
            wl.start(spark, rep)
        setups.append(time.monotonic() - t0 - (cold_build_s if rep == 0 else 0.0))
        if rep < SETUPS - 1:
            wl.stop()
            spark.stop()

    lat: list[float] = []
    items: list[int] = []
    error = None
    i = 0
    tw = time.monotonic()
    while i < MIN_WARM_OPS or not (
        stats.settled(lat) or time.monotonic() - tw >= WARM_CAP_S
    ):
        with spans.span("op.warmup", op=i):
            l_, n_ = wl.op(i)
        lat.append(l_)
        i += 1
    warm_ops, warm_s = i, time.monotonic() - tw

    timed: list[int] = []
    tm = time.monotonic()
    while time.monotonic() - tm < a.seconds:
        try:
            with spans.span("op", op=i):
                l_, n_ = wl.op(i)
        except Exception as exc:  # a failed operation ends the closed loop
            timed.append(i)
            error = f"{type(exc).__name__}: {exc}"
            break
        timed.append(i)
        lat.append(l_)
        items.append(n_)
        i += 1
    n_ops = i
    tlat = lat[warm_ops:]

    # the set-up build ran cold (first Spark jobs of the JVM); time the
    # same build again, warm, into fresh locations
    builds = []
    for r in range(REBUILDS):
        with spans.span("build.warm"):
            tb = time.monotonic()
            wl.build(spark, f"rebuild{r}")
            builds.append(time.monotonic() - tb)

    with spans.span("check"):
        res = wl.finish(spark, [t for t in timed if t < n_ops], n_ops, trace)
    ok_ops = sum(1 for t in timed if t < n_ops and res["op_ok"][t])

    result = {
        "workload": a.workload,
        "seed": a.seed,
        "items": wl.items,
        "correct": bool(res["correct"]) and error is None,
        "attempted": len(timed),
        "failed": len(timed) - ok_ops,
        "error": error,
        "setup_s_each": setups,
        "cold_build_s": cold_build_s,
        "build_s_each": builds,
        "warm_ops": warm_ops,
        "warm_latency_s": lat[:warm_ops],
        "timed_latency_s": tlat,
        "drift": stats.drift(tlat) if len(tlat) >= 2 else None,
        "tail": stats.highest_tail(tlat),
        "e2e": {
            "setup_s": statistics.median(setups),
            "build_s": statistics.median(builds),
            "items_per_s": sum(items) / sum(tlat) if tlat else 0.0,
            "latency_p50_ms": 1000 * statistics.median(tlat) if tlat else 0.0,
            "ref_match_frac": res["match_frac"],
            "ops_ok_frac": ok_ops / len(timed) if timed else 0.0,
        },
        "settings": {
            "master": f"local[{NPROC}]",
            "driver_memory": DRIVER_MEMORY,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_local_dir": conf["spark.local.dir"],
            "tmpdir": os.environ.get("TMPDIR"),
            "java_tool_options": os.environ.get("JAVA_TOOL_OPTIONS"),
            "event_log": trace,
            "workload": workloads.WORKLOADS[a.workload],
            "warm_cap_s": WARM_CAP_S,
            "min_warm_ops": MIN_WARM_OPS,
            "setups": SETUPS,
            "rebuilds": REBUILDS,
        },
    }
    if trace:
        app_id = spark.sparkContext.applicationId
        spark.stop()
        path = ledger.event_log_path(conf["spark.eventLog.dir"], app_id)
        per_op = ledger.engine_counters(path, wl.op_of_job(timed))
        layers = dict(res["layers"])
        progress = layers.pop("progress", None)
        useful = layers.pop("useful_rows_per_op", None)
        rows_read = ledger.mean_per_op(per_op, timed, "records_read")
        result["layers"] = ledger.layer_metrics(
            layers,
            per_op=per_op,
            timed=timed,
            session_start_s=session_start_s,
            warm_s=warm_s,
            peak_rss_mb=rss.stop(),
            cold_build_s=cold_build_s,
            stream=isinstance(wl, workloads.StreamWorkload),
            rows_read=rows_read,
            useful=useful,
            e2e=result["e2e"],
        )
        result["progress_summary"] = progress
        result["spans"] = spans.spans
    else:
        spark.stop()
    with open(os.path.join(a.run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
