"""Per-layer ledger for the traced run, measured from outside the
library: spans around the benchmark's calls into each module, the
process tree's resident memory from /proc, a summary of
``StreamingQuery.recentProgress`` and engine counters from the Spark
event log (parsed by the repo's ``tools/profile_query.parse_event_log``
plus the few per-task fields it does not keep)."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


class Spans:
    """In-memory span recorder (written out with the run's result).  A
    disabled recorder still yields, so call sites need no branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.monotonic(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def total(self, name: str, ops: set[int] | None = None) -> float:
        """Summed duration (s) of spans called ``name``, optionally only
        those of operations in ``ops``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and "end" in s and (ops is None or s["op"] in ops)
        )


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory (MB) of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21])
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total * page / 2**20


class RssSampler:
    """Samples the process tree's resident memory every ``interval``
    seconds on a daemon thread; ``stop`` returns the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


# recentProgress.durationMs phases reported per operation
PHASES = {
    "triggerExecution": "trigger_ms",
    "latestOffset": "latest_offset_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "addBatch": "add_batch_ms",
}


def progress_summary(progress: list[dict], batches: set[int] | None = None) -> dict:
    """Summary of executed micro-batches whose id is in ``batches``
    (default: all):
    per phase the summed ``durationMs`` and batch count, and per state
    operator the summed commit time and dropped-late rows plus the
    final state size.  Idle progress events (no ``addBatch``) are
    skipped."""
    ran = [
        p for p in progress
        if (batches is None or p["batchId"] in batches) and "addBatch" in p.get("durationMs", {})
    ]
    phases = {
        name: {
            "total_ms": sum(p["durationMs"].get(key, 0) for p in ran),
            "batches": len(ran),
        }
        for key, name in PHASES.items()
    }
    ops: dict[str, dict] = {}
    for p in sorted(ran, key=lambda p: p["batchId"]):
        for i, so in enumerate(p.get("stateOperators", [])):
            o = ops.setdefault(
                f"{i}:{so.get('operatorName', 'state')}",
                {"commit_ms": 0, "dropped_late": 0, "rows": 0, "bytes": 0},
            )
            o["commit_ms"] += so.get("commitTimeMs", 0)
            o["dropped_late"] += so.get("numRowsDroppedByWatermark", 0)
            o["rows"] = so.get("numRowsTotal", 0)
            o["bytes"] = so.get("memoryUsedBytes", 0)
    return {"phases": phases, "state_operators": ops, "batches": len(ran)}


def event_log_path(log_dir: str, app_id: str) -> str:
    """The application's event log: a plain file, or Spark's rolling
    ``eventlog_v2_<app>`` directory."""
    hits = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    if not hits:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return hits[0]


def _task_extras(path: str) -> tuple[dict, dict]:
    """What ``parse_event_log`` leaves out: each job's stage ids and
    properties, and per stage CPU, GC, spill, records read and failed
    tasks."""
    files = (
        sorted(glob.glob(os.path.join(path, "events_*")))
        if os.path.isdir(path)
        else [path]
    )
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for fp in files:
        with open(fp) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "stages": ev.get("Stage IDs", []),
                        "props": ev.get("Properties") or {},
                    }
                elif e == "SparkListenerTaskEnd":
                    st = stages.setdefault(
                        ev["Stage ID"],
                        {"cpu_ns": 0, "gc_ms": 0, "spill_b": 0, "records_read": 0,
                         "failed": 0, "tasks": 0},
                    )
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["records_read"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    st["failed"] += reason != "Success"
    return jobs, stages


def engine_counters(path: str, op_of_job) -> dict[int, dict]:
    """Engine counters summed per operation.  ``op_of_job(properties)``
    names the operation a job belongs to, or ``None``.
    Stages shared by jobs (skipped reuse) count once."""
    from profile_query import parse_event_log

    parsed = parse_event_log(path)
    extras_jobs, extras_stages = _task_extras(path)
    per_op: dict[int, dict] = {}
    seen: set[int] = set()
    for j in extras_jobs.values():
        op = op_of_job(j["props"])
        if op is None:
            continue
        c = per_op.setdefault(
            op,
            {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_b": 0,
             "shuffle_write_b": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
             "spill_b": 0, "failed_tasks": 0, "records_read": 0},
        )
        c["jobs"] += 1
        for sid in j["stages"]:
            if sid in seen or sid not in extras_stages:
                continue  # skipped stage: never ran
            seen.add(sid)
            ps = parsed["stages"].get(sid, {})
            xs = extras_stages[sid]
            c["stages"] += 1
            c["tasks"] += xs["tasks"]
            c["shuffle_read_b"] += ps.get("shuf_read_b", 0)
            c["shuffle_write_b"] += ps.get("shuf_write_b", 0)
            c["run_ms"] += ps.get("task_ms", 0)
            c["cpu_ms"] += xs["cpu_ns"] / 1e6
            c["gc_ms"] += xs["gc_ms"]
            c["spill_b"] += xs["spill_b"]
            c["failed_tasks"] += xs["failed"]
            c["records_read"] += xs["records_read"]
    return per_op


def mean_per_op(per_op: dict[int, dict], ops: list[int], key: str) -> float:
    """Mean of counter ``key`` over ``ops`` (0 for an op with no jobs)."""
    if not ops:
        return 0.0
    return statistics.fmean(per_op.get(o, {}).get(key, 0) for o in ops)


# name -> unit of every per-layer metric; a layer that a workload does
# not exercise reports 0 (no micro-batches ran, no IVF list was read)
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "pipeline.microbatches_per_op": "count",
    "pipeline.trigger_ms": "ms",
    "pipeline.latest_offset_ms": "ms",
    "pipeline.query_planning_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.commit_offsets_ms": "ms",
    "pipeline.add_batch_ms": "ms",
    "pipeline.state_commit_ms": "ms",
    "pipeline.state_rows": "count",
    "pipeline.state_bytes": "B",
    "pipeline.late_rows_dropped": "count",
    "pipeline.late_rows_planted": "count",
    "pipeline.sink_bytes_per_op": "B",
    "pipeline.sink_files_per_op": "count",
    "pipeline.anomaly_rows": "count",
    "profiles.build_s": "s",
    "profiles.rows_in": "count",
    "ivf.build_s": "s",
    "ivf.list_rows_max": "count",
    "ivf.list_rows_mean": "count",
    "ivf.plan_ms": "ms",
    "ivf.exec_ms": "ms",
    "ivf.pairs_scored": "count",
    "ivf.rows_read_per_op": "count",
    "ivf.useful_read_frac": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_read_bytes_per_op": "B",
    "spark.shuffle_write_bytes_per_op": "B",
    "spark.executor_run_ms_per_op": "ms",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.spill_bytes_per_op": "B",
    "spark.failed_tasks": "count",
    "trace.latency_p50_ms": "ms",
    "trace.items_per_s": "1/s",
}


def layer_metrics(
    workload_layers: dict,
    *,
    per_op: dict[int, dict],
    timed: list[int],
    session_start_s: float,
    warm_s: float,
    peak_rss_mb: float,
    cold_build_s: float,
    stream: bool,
    rows_read: float,
    useful: float | None,
    e2e: dict,
) -> dict:
    """Every ``PER_LAYER`` metric for one traced run."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(workload_layers)
    m["session.start_s"] = session_start_s
    m["session.warmup_s"] = warm_s
    m["session.peak_rss_mb"] = peak_rss_mb
    if stream:
        m["profiles.build_s"] = cold_build_s
    else:
        m["ivf.build_s"] = cold_build_s
        m["ivf.rows_read_per_op"] = rows_read
        m["ivf.useful_read_frac"] = useful / rows_read if rows_read else 0.0
    for name, key in (
        ("jobs_per_op", "jobs"),
        ("stages_per_op", "stages"),
        ("tasks_per_op", "tasks"),
        ("shuffle_read_bytes_per_op", "shuffle_read_b"),
        ("shuffle_write_bytes_per_op", "shuffle_write_b"),
        ("executor_run_ms_per_op", "run_ms"),
        ("executor_cpu_ms_per_op", "cpu_ms"),
        ("gc_ms_per_op", "gc_ms"),
        ("spill_bytes_per_op", "spill_b"),
    ):
        m[f"spark.{name}"] = mean_per_op(per_op, timed, key)
    m["spark.failed_tasks"] = sum(per_op.get(o, {}).get("failed_tasks", 0) for o in timed)
    m["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
    m["trace.items_per_s"] = e2e["items_per_s"]
    return m
