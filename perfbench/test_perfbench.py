"""Self-tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(os.path.dirname(HERE), "tools")]

import check  # noqa: E402
import gen  # noqa: E402
import ledger  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def test_stream_generator_is_deterministic_per_seed():
    a, b, c = gen.StreamGen(3, 40), gen.StreamGen(3, 40), gen.StreamGen(4, 40)
    for i in (0, 1, gen.LATE_LAG + 2):
        assert a.landed(i).equals(b.landed(i))
        assert not a.landed(i).equals(c.landed(i))
    assert a.history().equals(b.history())
    pd.testing.assert_frame_equal(a.snapshot(2), b.snapshot(2))


def test_stream_generator_plants_late_and_out_of_order_rows():
    g = gen.StreamGen(1, 200)
    i = gen.LATE_LAG + 1
    df = g.landed(i).to_pandas()
    seconds = df["timestamp"].map(lambda t: t.timestamp())
    window = (seconds - gen.T0) // gen.WINDOW_S
    assert (window == i - gen.LATE_LAG).sum() == gen.LATE_PER_FILE
    assert (window == i - 1).sum() == g.window(i - 1)["held"].sum() > 0
    assert df["event_id"].is_unique


def test_ann_generator_is_deterministic_per_seed():
    x = gen.ann_corpus(2, 50, 8, 4, 0.5)
    assert np.array_equal(x, gen.ann_corpus(2, 50, 8, 4, 0.5))
    assert not np.array_equal(x, gen.ann_corpus(3, 50, 8, 4, 0.5))
    q = gen.ann_queries(2, 5, 7, 8, 4, 0.5)
    assert np.array_equal(q, gen.ann_queries(2, 5, 7, 8, 4, 0.5))
    assert not np.array_equal(q, gen.ann_queries(2, 6, 7, 8, 4, 0.5))


def _profiles(g: gen.StreamGen) -> pd.DataFrame:
    cols = {"device_id": g.device_ids}
    for j, m in enumerate(gen.METRICS):
        cols[f"mean_{m}"] = g.mean[:, j]
        cols[f"std_{m}"] = g.std[:, j]
    return pd.DataFrame(cols)


def test_detection_checker_catches_a_planted_wrong_flag():
    g = gen.StreamGen(5, 300)
    want = check.detect_reference(g.snapshot(4), _profiles(g))
    assert want["path1_triggered"].any() and want["path2_triggered"].any()
    n = len(want)
    assert check.compare_detections(want.copy(), want) == (n, n)
    wrong = want.copy()
    wrong.loc[7, "path2_triggered"] = ~wrong.loc[7, "path2_triggered"]
    assert check.compare_detections(wrong, want) == (n - 1, n)
    extra = pd.concat([want, want.iloc[:1]], ignore_index=True)
    assert check.compare_detections(extra, want) == (n, n + 1)
    assert check.compare_detections(want.iloc[1:], want) == (n - 1, n)


def _ivf_fixture():
    rng = np.random.default_rng(0)
    corpus = rng.standard_normal((400, 8)).astype(np.float32)
    cents = rng.standard_normal((6, 8))
    cu, xu = check.unit(cents), check.unit(corpus)
    list_of = np.argmax(xu @ cu.T, axis=1)
    q = rng.standard_normal((5, 8)).astype(np.float32)
    qu = check.unit(q)
    probed = np.argsort(-(qu @ cu.T), axis=1)[:, :2]
    ids, sims = [], []
    for qi in range(len(q)):
        cand = np.nonzero(np.isin(list_of, probed[qi]))[0]
        s = xu[cand] @ qu[qi]
        top = np.argsort(-s)[:10]
        ids.append(cand[top])
        sims.append(s[top])
    return q, ids, sims, xu, list_of, np.arange(6), cu


def test_ivf_checker_catches_a_planted_wrong_neighbour():
    q, ids, sims, xu, list_of, cids, cu = _ivf_fixture()
    args = (xu, list_of, cids, cu, 2, 10)
    assert all(check.check_ivf(q, ids, sims, *args))
    qu = check.unit(q)
    # swap the 10th neighbour for the worst row of a probed list
    bad_ids = [x.copy() for x in ids]
    same_list = np.nonzero(list_of == list_of[ids[0][0]])[0]
    worst = same_list[np.argmin(xu[same_list] @ qu[0])]
    bad_ids[0][9] = worst
    bad_sims = [s.copy() for s in sims]
    bad_sims[0][9] = xu[worst] @ qu[0]
    assert check.check_ivf(q, bad_ids, bad_sims, *args) == [False] + [True] * 4
    # a wrong similarity and a missing neighbour are caught too
    bad_sims = [s.copy() for s in sims]
    bad_sims[1][0] += 0.01
    assert not check.check_ivf(q, ids, bad_sims, *args)[1]
    assert not check.check_ivf(q, [x[:9] for x in ids], sims, *args)[2]


def test_recall_counts_overlap():
    exact = np.array([[1, 2, 3, 4], [5, 6, 7, 8]])
    assert check.recall([np.array([1, 2, 3, 4]), np.array([5, 6, 0, 9])], exact) == 0.75


def test_percentile_refuses_fewer_than_ten_samples_beyond():
    assert stats.percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 50)
    assert stats.highest_tail(list(range(15))) is None
    assert stats.highest_tail(list(range(100))) == (90.0, 89)


def test_drift_and_settled():
    assert stats.drift([2.0, 2.0, 1.0, 1.0]) == 0.5
    assert not stats.settled([3.0, 2.5, 2.0, 1.6, 1.3, 1.0])
    assert stats.settled([3.0, 2.0, 2.0, 1.95, 2.05, 1.9])


def test_progress_summary_per_phase_and_state_operator():
    prog = [
        {"batchId": 0, "durationMs": {"addBatch": 5, "triggerExecution": 9},
         "stateOperators": [{"operatorName": "agg", "commitTimeMs": 2,
                             "numRowsDroppedByWatermark": 1, "numRowsTotal": 10,
                             "memoryUsedBytes": 100}]},
        {"batchId": 1, "durationMs": {"addBatch": 7, "triggerExecution": 11},
         "stateOperators": [{"operatorName": "agg", "commitTimeMs": 3,
                             "numRowsDroppedByWatermark": 0, "numRowsTotal": 12,
                             "memoryUsedBytes": 120}]},
        {"batchId": 1, "durationMs": {"triggerExecution": 1}},  # idle event
    ]
    s = ledger.progress_summary(prog)
    assert s["batches"] == 2
    assert s["phases"]["add_batch_ms"]["total_ms"] == 12
    assert s["phases"]["trigger_ms"]["total_ms"] == 20
    assert s["state_operators"]["0:agg"] == {
        "commit_ms": 5, "dropped_late": 1, "rows": 12, "bytes": 120
    }
    assert ledger.progress_summary(prog, {1})["phases"]["add_batch_ms"]["total_ms"] == 7


def test_engine_counters_attribute_jobs_to_operations(tmp_path):
    def task(stage, run_ms, reason="Success"):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": 2_000_000, "JVM GC Time": 1,
                                 "Input Metrics": {"Records Read": 4},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 8}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-op-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "perfbench-op-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
        task(0, 10), task(0, 10), task(1, 5, reason="ExceptionFailure"), task(3, 99),
    ]
    path = tmp_path / "events_1_app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    per_op = ledger.engine_counters(
        str(path), lambda p: 3 if p.get("spark.jobGroup.id") == "perfbench-op-3" else None
    )
    assert list(per_op) == [3]
    c = per_op[3]
    assert (c["jobs"], c["stages"], c["tasks"]) == (2, 2, 3)  # stage 2 never ran
    assert (c["run_ms"], c["failed_tasks"], c["records_read"]) == (25, 1, 12)
    assert c["cpu_ms"] == 6.0 and c["shuffle_write_b"] == 24


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == ledger.PER_LAYER
