"""Seeded input generators.  Every array here is a pure function of
(seed, index): the same seed gives the same landed files, profile
history, corpus and query batches, in any order of calls.

Stream inputs
-------------
Each device reports every metric once per 10 s tick; a landed file
carries one 60 s tumbling window (6 ticks).  Traffic that exercises the
watermark (60 s windows, 2-window delay):

- out-of-order rows: a share of each window's LAST-tick rows is held
  back and lands one file later.  Those rows decide the window's
  last-write-wins value, so losing them changes the snapshot.  They
  arrive well within the watermark.
- late rows: from file 5 on, each file also carries ``LATE_PER_FILE``
  rows for window ``i - 5`` (distinct devices, one row each), which is
  past the watermark when the file lands: the engine must drop them.
- missing metrics: a device occasionally skips a metric for a whole
  window, so detection's 0-fill is exercised.
- planted anomalies: a few device-windows get two metrics shifted by
  several sigma (path 1) or a metric zeroed (path 2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

METRICS = ["temperature", "humidity", "power", "vibration", "pressure"]
WINDOW_S = 60
TICK_S = 10
TICKS = WINDOW_S // TICK_S
WATERMARK_WINDOWS = 2
# first window start; a multiple of 60 so windows align with Spark's
T0 = 1_700_000_040
HISTORY_WINDOWS = 12
OOO_FRAC = 0.02
LATE_PER_FILE = 5
LATE_LAG = 5  # windows behind the landed one; past the watermark
MISSING_FRAC = 0.004
ANOMALY_FRAC = 0.01
_W_OFFSET = 1_000_000  # keeps SeedSequence entropy non-negative

STREAM_SCHEMA = pa.schema(
    [
        ("device_id", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("metric_name", pa.string()),
        ("metric_value", pa.float64()),
        ("event_id", pa.int64()),
    ]
)


class StreamGen:
    """Generator for one stream workload: ``devices`` devices, seeded."""

    def __init__(self, seed: int, devices: int):
        self.seed = int(seed)
        self.devices = int(devices)
        rng = np.random.default_rng([self.seed, 0])
        m = len(METRICS)
        self.mean = rng.uniform(20.0, 80.0, (self.devices, m))
        self.std = rng.uniform(1.0, 5.0, (self.devices, m))
        self.device_ids = np.array([f"dev-{d:06d}" for d in range(self.devices)])
        # per-device sub-tick offset keeps every timestamp distinct
        self.offset_us = rng.integers(0, 9_000_000, self.devices)

    def _rng(self, w: int, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, w + _W_OFFSET, stream])

    def window(self, w: int) -> dict:
        """All rows generated for window ``w`` (before any is held back
        or made late): values (ticks, devices, metrics), presence mask
        (devices, metrics) and the held-back mask (devices, metrics) on
        the last tick."""
        rng = self._rng(w, 1)
        shape = (TICKS, self.devices, len(METRICS))
        vals = self.mean + self.std * rng.standard_normal(shape)
        if w >= 0:
            n_anom = max(1, int(ANOMALY_FRAC * self.devices))
            devs = rng.choice(self.devices, n_anom, replace=False)
            for j, d in enumerate(devs):
                if j % 2 == 0:  # two metrics shifted by 6 sigma
                    ms = rng.choice(len(METRICS), 2, replace=False)
                    vals[:, d, ms] += 6.0 * self.std[d, ms]
                else:  # shape change: one metric collapses to ~0
                    vals[:, d, rng.integers(len(METRICS))] = 0.01
        present = rng.random((self.devices, len(METRICS))) >= MISSING_FRAC
        held = (rng.random((self.devices, len(METRICS))) < OOO_FRAC) & present
        return {"vals": vals, "present": present, "held": held}

    def _rows(self, w: int, vals, mask, ticks) -> dict:
        """Flatten (tick, device, metric) cells selected by ``mask``."""
        t, d, m = np.nonzero(mask)
        ts = (
            (T0 + w * WINDOW_S + ticks[t] * TICK_S) * 1_000_000
            + self.offset_us[d]
            + m * 1000
        )
        eid = (
            ((w + _W_OFFSET) * TICKS + ticks[t]) * self.devices + d
        ) * len(METRICS) + m
        return {
            "device_id": self.device_ids[d],
            "timestamp": ts,
            "metric_name": np.array(METRICS)[m],
            "metric_value": vals[t, d, m],
            "event_id": eid,
        }

    def landed(self, i: int) -> pa.Table:
        """Landed file ``i``: window ``i`` minus its held-back rows, plus
        window ``i - 1``'s held-back rows, plus late rows for window
        ``i - LATE_LAG``."""
        ticks = np.arange(TICKS)
        cur = self.window(i)
        mask = np.broadcast_to(cur["present"], (TICKS,) + cur["present"].shape).copy()
        mask[-1] &= ~cur["held"]
        parts = [self._rows(i, cur["vals"], mask, ticks)]
        if i >= 1:
            prev = self.window(i - 1)
            held = np.zeros((TICKS,) + prev["held"].shape, bool)
            held[-1] = prev["held"]
            parts.append(self._rows(i - 1, prev["vals"], held, ticks))
        if i >= LATE_LAG:
            parts.append(self.late_rows(i))
        cols = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
        return pa.Table.from_pydict(cols, schema=STREAM_SCHEMA)

    def late_rows(self, i: int) -> dict:
        """``LATE_PER_FILE`` rows of window ``i - LATE_LAG``, one per
        distinct device, each a distinct (device, window) group."""
        rng = self._rng(i, 2)
        w = i - LATE_LAG
        d = rng.choice(self.devices, LATE_PER_FILE, replace=False)
        m = rng.integers(len(METRICS), size=LATE_PER_FILE)
        ts = (T0 + w * WINDOW_S + WINDOW_S - 1) * 1_000_000 + m
        return {
            "device_id": self.device_ids[d],
            "timestamp": ts,
            "metric_name": np.array(METRICS)[m],
            "metric_value": rng.uniform(500.0, 900.0, LATE_PER_FILE),
            "event_id": -(i * LATE_PER_FILE + np.arange(LATE_PER_FILE)) - 1,
        }

    def history(self) -> pa.Table:
        """Profile-build input: windows ``-HISTORY_WINDOWS .. -1``, one
        tick per window, every metric present."""
        parts = []
        for w in range(-HISTORY_WINDOWS, 0):
            vals = self.window(w)["vals"][:1]
            parts.append(self._rows(w, vals, np.ones(vals.shape, bool), np.zeros(1, int)))
        cols = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
        return pa.Table.from_pydict(cols, schema=STREAM_SCHEMA)

    def snapshot(self, w: int) -> pd.DataFrame:
        """Reference last-write-wins snapshot of window ``w`` once every
        on-time row has arrived: each present metric's last-tick value
        (the last tick is the latest write; held-back rows still count
        because they arrive within the watermark).  Absent metrics are
        NaN."""
        win = self.window(w)
        last = np.where(win["present"], win["vals"][-1], np.nan)
        df = pd.DataFrame(last, columns=METRICS)
        df.insert(0, "device_id", self.device_ids)
        return df


def ann_corpus(seed: int, n: int, dim: int, blobs: int, spread: float) -> np.ndarray:
    """``n`` float32 rows around ``blobs`` random unit centres with
    isotropic noise of norm ~``spread``: overlapping clusters, so an
    IVF probe of a few lists misses some true neighbours."""
    rng = np.random.default_rng([int(seed), 7])
    centres = rng.standard_normal((blobs, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    return _around(rng, centres, n, spread)


def ann_queries(
    seed: int, op: int, batch: int, dim: int, blobs: int, spread: float
) -> np.ndarray:
    """Query batch ``op``: same distribution as the corpus, fresh draws."""
    centres_rng = np.random.default_rng([int(seed), 7])
    centres = centres_rng.standard_normal((blobs, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    return _around(np.random.default_rng([int(seed), 8, op]), centres, batch, spread)


def _around(rng, centres, n, spread) -> np.ndarray:
    dim = centres.shape[1]
    labels = rng.integers(len(centres), size=n)
    noise = rng.standard_normal((n, dim)) * (spread / np.sqrt(dim))
    return (centres[labels] + noise).astype(np.float32)
