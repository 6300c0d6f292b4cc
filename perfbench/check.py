"""NumPy references and output checkers.  Nothing here touches Spark:
the workloads hand over plain pandas frames / arrays."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gen import METRICS

Z_THRESHOLD = 1.5
SIM_THRESHOLD = 0.90
SIM_TOL = 1e-5  # float32 kernels vs the float64 reference


def detect_reference(snap: pd.DataFrame, profiles: pd.DataFrame) -> pd.DataFrame:
    """Path-1/path-2 flags for LWW snapshots (``device_id`` + one column
    per metric, NaN = absent) against the wide profile table
    (``mean_<m>``, ``std_<m>``).  Folds the cosine in ``METRICS`` order
    with the same IEEE operations as the streaming detector, so flags
    agree exactly, not just away from the thresholds."""
    j = snap.merge(profiles, on="device_id", how="inner")
    outliers = np.zeros(len(j), dtype=np.int64)
    ab = np.zeros(len(j))
    aa = np.zeros(len(j))
    bb = np.zeros(len(j))
    for m in METRICS:
        v = j[m].fillna(0.0).to_numpy()
        mean = j[f"mean_{m}"].to_numpy()
        std = j[f"std_{m}"].to_numpy()
        with np.errstate(divide="ignore", invalid="ignore"):
            z = np.where(std > 0, np.abs((v - mean) / std), 0.0)
        outliers += z > Z_THRESHOLD
        ab = ab + v * mean
        aa = aa + v * v
        bb = bb + mean * mean
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = np.where((aa == 0.0) | (bb == 0.0), 0.0, ab / (np.sqrt(aa) * np.sqrt(bb)))
    return pd.DataFrame(
        {
            "device_id": j["device_id"].to_numpy(),
            "path1_triggered": outliers >= 2,
            "path2_triggered": sim < SIM_THRESHOLD,
        }
    )


def compare_detections(got: pd.DataFrame, want: pd.DataFrame) -> tuple[int, int]:
    """``(matched, denominator)`` for one window: rows whose (device)
    key is expected and whose two flags equal the reference, over
    expected rows plus unexpected extra rows (an extra or duplicated
    row counts as a mismatch)."""
    key = "device_id"
    dup = int(got[key].duplicated().sum())
    g = got.drop_duplicates(key)
    j = want.merge(g, on=key, how="left", suffixes=("_want", ""), indicator=True)
    hit = j["_merge"] == "both"
    same = (
        hit
        & (j["path1_triggered"] == j["path1_triggered_want"])
        & (j["path2_triggered"] == j["path2_triggered_want"])
    )
    extra = int((~g[key].isin(want[key])).sum()) + dup
    return int(same.sum()), len(want) + extra


def unit(x: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm, in float64; zero rows stay zero."""
    x = np.asarray(x, dtype=np.float64)
    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return x / n


def exact_topk(queries: np.ndarray, corpus_unit: np.ndarray, k: int) -> np.ndarray:
    """Brute-force cosine top-``k`` ids (row indices), ties by lower id."""
    sims = unit(queries) @ corpus_unit.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


def recall(got_ids: list[np.ndarray], exact_ids: np.ndarray) -> float:
    """Mean over queries of |returned ∩ exact| / k."""
    k = exact_ids.shape[1]
    return float(
        np.mean([len(set(g.tolist()) & set(e.tolist())) / k for g, e in zip(got_ids, exact_ids)])
    )


def check_ivf(
    queries: np.ndarray,
    got_ids: list[np.ndarray],
    got_sims: list[np.ndarray],
    corpus_unit: np.ndarray,
    list_of: np.ndarray,
    centroid_ids: np.ndarray,
    centroids_unit: np.ndarray,
    nprobe: int,
    k: int,
) -> list[bool]:
    """Per query: is the IVF answer the exact top-``k`` over the probed
    lists?  Holds when (a) it has ``k`` distinct ids, (b) each id sits
    in a list the query may probe (a centroid within ``SIM_TOL`` of the
    ``nprobe``-th best), (c) each reported similarity is the true
    cosine, and (d) its ``k``-th similarity is at least the exact
    ``k``-th best over the lists the query surely probes.  The
    tolerance absorbs float32 rounding at rank boundaries.
    ``list_of[i]`` is corpus row ``i``'s list id; ``centroid_ids[r]``
    the id of ``centroids_unit`` row ``r``."""
    qu = unit(queries)
    csim = qu @ centroids_unit.T
    ok = []
    for qi, (ids, sims) in enumerate(zip(got_ids, got_sims)):
        cs = csim[qi]
        cut = np.sort(cs)[::-1][min(nprobe, len(cs)) - 1]
        maybe = centroid_ids[cs >= cut - SIM_TOL]
        sure = centroid_ids[(cs > cut + SIM_TOL) | (cs == cs.max())]
        ids = np.asarray(ids, dtype=np.int64)
        if len(ids) != k or len(set(ids.tolist())) != k:
            ok.append(False)
            continue
        true_sims = corpus_unit[ids] @ qu[qi]
        in_lists = np.isin(list_of[ids], maybe).all()
        sims_ok = np.allclose(np.asarray(sims), true_sims, atol=SIM_TOL, rtol=0.0)
        cand = np.nonzero(np.isin(list_of, sure))[0]
        ref = np.sort(corpus_unit[cand] @ qu[qi])[::-1]
        floor = ref[k - 1] if len(ref) >= k else -np.inf
        ok.append(bool(in_lists and sims_ok and true_sims.min() >= floor - SIM_TOL))
    return ok
