"""The benchmark's workloads.  Each drives the library's public
functions the way an application would and exposes the same steps to
the runner: ``generate`` and ``start`` (set-up), ``build`` (the batch
build the operations read), ``op`` (one closed-loop operation) and
``finish`` (untimed output checks and per-layer numbers).

Why these two:

- ``stream_small``: many small landed files (500 devices, ~15k events
  per file).  Bound by the streaming machinery -- source listing and
  offsets, WAL, state-store commits, the no-data batch that emits
  windows, two parquet sink writes per epoch -- with little operator
  work.
- ``ann_search``: IVF top-10 search over 384-d snapshot embeddings
  (the reference's embedding width).  Exercises ``operators.ivf``,
  which the stream workload never touches.  Clusters overlap, so
  recall at the chosen ``nprobe`` sits visibly below 1.0 and a change
  to which lists are probed shows.

An operator-bound stream workload (8000 devices, ~240k events per
file) was measured and left out: within the time one run may take it
completed only 4-5 files, and its median latency spread 27 % (IQR over
median) across five seeds.
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import ledger

WORKLOADS = {
    "stream_small": {"kind": "stream", "devices": 500},
    "ann_search": {
        "kind": "ann",
        "rows": 8000,
        "dim": 384,
        "blobs": 512,
        "spread": 0.8,
        "lists": 24,
        "iters": 2,
        "nprobe": 3,
        "batch": 64,
        "k": 10,
    },
}


def _write(table: pa.Table, path: str) -> None:
    """Write a parquet file next to ``path`` and rename it into place,
    so a file-source listing never sees a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


class StreamWorkload:
    """Landed parquet files → ``windowed_snapshot_stream`` →
    ``detect_paths12`` against a profile table built by
    ``build_profiles_fixed_metrics`` → ``detection_sinks``.  One
    operation lands one file and waits until every micro-batch it
    causes (the data batch and the no-data batch that emits windows)
    has committed."""

    items = "events"
    # window i - 3 is emitted by the batches of file i (60 s windows, a
    # 2-window watermark, one window per file)
    EMIT_LAG = gen.WATERMARK_WINDOWS + 1

    def __init__(self, seed: int, root: str, spans: ledger.Spans, devices: int):
        self.gen = gen.StreamGen(seed, devices)
        self.root = root
        self.profile_dir = os.path.join(root, "build")
        self.history_rows = 0
        self.query = None
        self.commits: list[tuple[int, int]] = []  # per op: (first, last] batch
        self.planted_late = 0

    def generate(self, rep: int) -> None:
        d = os.path.join(self.root, f"setup{rep}")
        os.makedirs(d)
        table = self.gen.history()
        self.history_rows = table.num_rows
        self.history_path = os.path.join(d, "history.parquet")
        _write(table, self.history_path)

    def build(self, spark, name: str) -> None:
        """Profile table into ``<root>/<name>``; the set-up build is the
        one the query reads."""
        from pyspark.sql import functions as F

        from vectorsearch_scylla_spark.operators.profiles import (
            build_profiles_fixed_metrics,
        )

        raw = spark.read.parquet(self.history_path)
        long = build_profiles_fixed_metrics(
            raw, gen.METRICS, window_seconds=gen.WINDOW_S, min_snapshots=5
        )
        is_m = {m: F.col("metric_name") == m for m in gen.METRICS}
        wide = long.groupBy("device_id").agg(
            *[
                F.max(F.when(is_m[m], F.col(stat))).alias(f"{stat}_{m}")
                for m in gen.METRICS
                for stat in ("mean", "std")
            ]
        )
        wide.write.parquet(os.path.join(self.root, name))

    def start(self, spark, rep: int) -> None:
        from vectorsearch_scylla_spark.streaming.pipeline import (
            detect_paths12,
            detection_sinks,
            windowed_snapshot_stream,
        )

        d = os.path.join(self.root, f"setup{rep}")
        self.land = os.path.join(d, "landing")
        self.sink = os.path.join(d, "sink")
        self.stage = os.path.join(d, "stage")
        for p in (self.land, self.stage):
            os.makedirs(p)
        profiles = spark.read.parquet(self.profile_dir)
        stream = spark.readStream.schema(
            spark.read.parquet(self.history_path).schema
        ).parquet(self.land)
        snaps = windowed_snapshot_stream(
            stream,
            window_seconds=gen.WINDOW_S,
            watermark_windows=gen.WATERMARK_WINDOWS,
        )
        detected = detect_paths12(
            snaps, profiles, gen.METRICS, sim_threshold=check.SIM_THRESHOLD,
            z_threshold=check.Z_THRESHOLD,
        )
        self.query = detection_sinks(detected, self.sink, available_now=False)

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def _last_commit(self) -> int:
        d = os.path.join(self.sink, "checkpoint", "commits")
        names = [int(n) for n in os.listdir(d) if n.isdigit()] if os.path.isdir(d) else []
        return max(names, default=-1)

    def op(self, i: int) -> tuple[float, int]:
        """Land file ``i``; returns (latency s, events)."""
        import time

        table = self.gen.landed(i)
        if i >= gen.LATE_LAG:
            self.planted_late += gen.LATE_PER_FILE
        staged = os.path.join(self.stage, f"part-{i:05d}.parquet")
        pq.write_table(table, staged)
        before = self._last_commit()
        t0 = time.monotonic()
        os.rename(staged, os.path.join(self.land, f"part-{i:05d}.parquet"))
        self.query.processAllAvailable()
        lat = time.monotonic() - t0
        self.commits.append((before, self._last_commit()))
        return lat, table.num_rows

    def finish(self, spark, timed: list[int], n_ops: int, trace: bool) -> dict:
        """Check every emitted window against the NumPy reference and
        collect the stream's per-layer numbers."""
        from pyspark.sql import functions as F

        progress = _progress_dicts(self.query)
        self.stop()
        prof = spark.read.parquet(self.profile_dir).toPandas()
        snaps = (
            spark.read.parquet(os.path.join(self.sink, "snapshots"))
            .select(
                "device_id",
                F.unix_timestamp("window_start").alias("ws"),
                "path1_triggered",
                "path2_triggered",
                "batch",
            )
            .toPandas()
        )
        matched = denom = 0
        op_ok = []
        for i in range(n_ops):
            w = i - self.EMIT_LAG
            lo, hi = self.commits[i]
            if w < 0:
                op_ok.append(True)
                continue
            got = snaps[snaps["ws"] == gen.T0 + w * gen.WINDOW_S]
            want = check.detect_reference(self.gen.snapshot(w), prof)
            m, n = check.compare_detections(got, want)
            on_time = bool(((got["batch"] > lo) & (got["batch"] <= hi)).all())
            matched, denom = matched + m, denom + n
            op_ok.append(m == n and on_time)
        last_w = n_ops - 1 - self.EMIT_LAG
        extra = int((snaps["ws"] > gen.T0 + last_w * gen.WINDOW_S).sum()) + int(
            (snaps["ws"] < gen.T0).sum()
        )
        denom += extra
        summary = ledger.progress_summary(progress)
        dropped = sum(o["dropped_late"] for o in summary["state_operators"].values())
        out = {
            "match_frac": matched / denom if denom else 0.0,
            "op_ok": op_ok,
            "correct": matched == denom and dropped == self.planted_late and all(op_ok),
        }
        if trace:
            out["layers"] = self._layers(spark, progress, timed, dropped)
        return out

    def _batch_owner(self, ops: list[int]) -> dict[int, int]:
        """Micro-batch id -> the operation whose file caused it."""
        return {b: i for i in ops for b in range(self.commits[i][0] + 1, self.commits[i][1] + 1)}

    def _layers(self, spark, progress, timed, dropped) -> dict:
        from pyspark.sql import functions as F

        batches = set(self._batch_owner(timed))
        s = ledger.progress_summary(progress, batches)
        n = max(1, len(timed))
        ph = {k: v["total_ms"] / n for k, v in s["phases"].items()}
        ops = s["state_operators"].values()
        sink_bytes = sink_files = 0
        for sub in ("snapshots", "events"):
            for b in batches:
                d = os.path.join(self.sink, sub, f"batch={b}")
                if not os.path.isdir(d):
                    continue
                for f in os.listdir(d):
                    if f.endswith(".parquet"):
                        sink_files += 1
                        sink_bytes += os.path.getsize(os.path.join(d, f))
        events = spark.read.parquet(os.path.join(self.sink, "events"))
        anomalies = events.filter(F.col("batch").isin(sorted(batches))).count()
        return {
            "pipeline.microbatches_per_op": s["batches"] / n,
            "pipeline.trigger_ms": ph["trigger_ms"],
            "pipeline.latest_offset_ms": ph["latest_offset_ms"],
            "pipeline.query_planning_ms": ph["query_planning_ms"],
            "pipeline.wal_commit_ms": ph["wal_commit_ms"],
            "pipeline.commit_offsets_ms": ph["commit_offsets_ms"],
            "pipeline.add_batch_ms": ph["add_batch_ms"],
            "pipeline.state_commit_ms": sum(o["commit_ms"] for o in ops) / n,
            "pipeline.state_rows": sum(o["rows"] for o in ops),
            "pipeline.state_bytes": sum(o["bytes"] for o in ops),
            "pipeline.late_rows_dropped": dropped,
            "pipeline.late_rows_planted": self.planted_late,
            "pipeline.sink_bytes_per_op": sink_bytes / n,
            "pipeline.sink_files_per_op": sink_files / n,
            "pipeline.anomaly_rows": anomalies,
            "profiles.rows_in": self.history_rows,
            "progress": s,
        }

    def op_of_job(self, timed: list[int]):
        """Streaming jobs carry their micro-batch id as a job property."""
        owner = self._batch_owner(timed)

        def of(props):
            b = props.get("streaming.sql.batchId")
            return owner.get(int(b)) if b is not None else None

        return of


def _progress_dicts(query) -> list[dict]:
    """``recentProgress`` as plain JSON dicts."""
    import json

    return [json.loads(p.json) for p in query.recentProgress]


class AnnWorkload:
    """``build_ivf_index`` (numpy kernel) over a generated corpus; each
    operation submits one query batch through ``probe_clusters_np`` →
    ``ivf_probe_topk_grouped`` and collects the top-k."""

    items = "queries"

    def __init__(self, seed: int, root: str, spans: ledger.Spans, **p):
        self.seed = seed
        self.root = root
        self.spans = spans
        self.p = p
        self.cents = self.lists_path = self.list_of = None
        self.recalls: list[float] = []
        self.ok: list[bool] = []
        self.probe_stats: list[tuple[int, int]] = []  # per op: (pairs, rows)

    def generate(self, rep: int) -> None:
        p = self.p
        d = os.path.join(self.root, f"setup{rep}")
        os.makedirs(d)
        self.corpus = gen.ann_corpus(self.seed, p["rows"], p["dim"], p["blobs"], p["spread"])
        self.corpus_path = os.path.join(d, "corpus.parquet")
        _write(
            pa.table(
                {
                    "vec_id": np.arange(p["rows"], dtype=np.int64),
                    "embedding": pa.FixedSizeListArray.from_arrays(
                        self.corpus.ravel(), p["dim"]
                    ).cast(pa.list_(pa.float32())),
                }
            ),
            self.corpus_path,
        )

    def build(self, spark, name: str) -> None:
        """IVF index under its own cache token; the first build is the
        one the queries probe."""
        from vectorsearch_scylla_spark.operators.ivf import build_ivf_index

        p = self.p
        index = build_ivf_index(
            spark.read.parquet(self.corpus_path),
            cache_token=f"perfbench_{self.seed}_{name}",
            k=p["lists"],
            iters=p["iters"],
            kernel="numpy",
        )
        if self.cents is None:
            self.cents, self.lists_path = index

    def start(self, spark, rep: int) -> None:
        self.members = spark.read.parquet(self.lists_path)
        self.spark = spark

    def stop(self) -> None:
        pass

    def _prepare_checks(self) -> None:
        """Unit corpus, list membership and centroids for the checkers."""
        lists = self.spark.read.parquet(self.lists_path).select("vec_id", "cluster_id").toPandas()
        self.list_of = np.empty(self.p["rows"], dtype=np.int64)
        self.list_of[lists["vec_id"].to_numpy()] = lists["cluster_id"].to_numpy()
        self.list_sizes = np.bincount(self.list_of)
        ordered = sorted(self.cents)
        self.cent_ids = np.array([c for c, _ in ordered], dtype=np.int64)
        self.cent_unit = check.unit(np.array([v for _, v in ordered]))
        self.corpus_unit = check.unit(self.corpus)

    def op(self, i: int) -> tuple[float, int]:
        import time

        from vectorsearch_scylla_spark.operators.ivf import (
            ivf_probe_topk_grouped,
            probe_clusters_np,
        )

        p = self.p
        q = gen.ann_queries(self.seed, i, p["batch"], p["dim"], p["blobs"], p["spread"])
        qid = np.arange(i * p["batch"], (i + 1) * p["batch"], dtype=np.int64)
        qpdf = pd.DataFrame({"query_id": qid, "query_vec": list(q)})
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-op-{i}", f"perfbench op {i}")
        t0 = time.monotonic()
        with self.spans.span("ivf.plan", op=i):
            qdf = self.spark.createDataFrame(qpdf)
            probes = probe_clusters_np(qdf, self.cents, p["nprobe"], vec_col="query_vec")
            top = ivf_probe_topk_grouped(
                probes, self.members, p["k"], corpus_id="vec_id", corpus_vec="embedding"
            )
        with self.spans.span("ivf.exec", op=i):
            res = top.toPandas()
        lat = time.monotonic() - t0
        sc.setJobGroup(None, None)
        self._check(i, q, qid, res)
        return lat, p["batch"]

    def _check(self, i, q, qid, res) -> None:
        """Untimed: exact top-k, recall and the probed-lists check."""
        p = self.p
        if self.list_of is None:
            self._prepare_checks()
        res = res.sort_values(["query_id", "rank"])
        by_q = dict(tuple(res.groupby("query_id")))
        empty = res.iloc[:0]
        got = [by_q.get(x, empty) for x in qid]
        ids = [g["vec_id"].to_numpy() for g in got]
        sims = [g["similarity"].to_numpy() for g in got]
        exact = check.exact_topk(q, self.corpus_unit, p["k"])
        self.recalls.append(check.recall(ids, exact))
        self.ok.append(
            all(
                check.check_ivf(
                    q, ids, sims, self.corpus_unit, self.list_of, self.cent_ids,
                    self.cent_unit, p["nprobe"], p["k"],
                )
            )
        )
        # pairs scored: sum over probed lists of queries x list rows
        qs = check.unit(q) @ self.cent_unit.T
        probed = self.cent_ids[np.argsort(-qs, axis=1, kind="stable")[:, : p["nprobe"]]]
        pairs = int(self.list_sizes[probed].sum())
        useful = int(self.list_sizes[np.unique(probed)].sum())
        self.probe_stats.append((pairs, useful))

    def finish(self, spark, timed: list[int], n_ops: int, trace: bool) -> dict:
        out = {
            "match_frac": statistics.fmean(self.recalls[i] for i in timed),
            "op_ok": self.ok,
            "correct": all(self.ok),
        }
        if trace:
            n = max(1, len(timed))
            out["layers"] = {
                "ivf.list_rows_max": int(self.list_sizes.max()),
                "ivf.list_rows_mean": float(self.list_sizes[self.list_sizes > 0].mean()),
                "ivf.plan_ms": 1000 * self.spans.total("ivf.plan", set(timed)) / n,
                "ivf.exec_ms": 1000 * self.spans.total("ivf.exec", set(timed)) / n,
                "ivf.pairs_scored": statistics.fmean(self.probe_stats[i][0] for i in timed),
                "useful_rows_per_op": statistics.fmean(
                    self.probe_stats[i][1] for i in timed
                ),
            }
        return out

    def op_of_job(self, timed: list[int]):
        timed_set = set(timed)

        def of(props):
            g = props.get("spark.jobGroup.id", "")
            if not g.startswith("perfbench-op-"):
                return None
            i = int(g.rsplit("-", 1)[1])
            return i if i in timed_set else None

        return of


def make(name: str, seed: int, root: str, spans: ledger.Spans):
    spec = dict(WORKLOADS[name])
    kind = spec.pop("kind")
    cls = StreamWorkload if kind == "stream" else AnnWorkload
    return cls(seed, root, spans, **spec)
