"""Seeded input generator: SMARD-like hourly series.

Each series is a load curve with a daily and a weekly cycle, a random
level, Gaussian noise and labelled planted spikes. On top of the clean
grid the generator applies the defects real telemetry has, in the
shares each workload asks for: missing hours (gaps), duplicate
timestamps that arrive after the original (a larger ``event_id``), and
null values.

The same (workload shape, seed) always gives byte-identical files;
:func:`input_digest` hashes them so a test can pin that.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
HOUR_US = 3_600_000_000


@dataclass(frozen=True)
class Shape:
    """What to generate: ``n_series`` hourly series of ``days`` days, the
    defect shares, and how many time-ordered files to split them into."""

    n_series: int
    days: int
    gap_share: float = 0.0
    dup_share: float = 0.0
    null_share: float = 0.0
    spike_share: float = 0.002
    files: int = 1


# the workloads' input shapes (see workloads.py for what runs on them)
SHAPES = {
    # many short series with every defect; small, so a run's window
    # holds enough repetitions past the JIT's warm-up (see README.md)
    "pipeline_batch": Shape(
        n_series=100, days=18, gap_share=0.01, dup_share=0.01, null_share=0.005,
    ),
    # in-order events only: the stream scorer keeps arrival order, so
    # late duplicates or nulls would make it disagree with the batch flags
    "stream_replay": Shape(n_series=40, days=8, gap_share=0.01, files=2),
}


def make_series(shape: Shape, seed: int) -> dict[str, np.ndarray]:
    """Columns of the generated events, in arrival (``event_id``) order.

    Returns ``event_id``, ``user_id``, ``ts_us`` (epoch microseconds),
    ``value`` (NaN where null) and ``is_spike`` (planted-label flag).
    """
    rng = np.random.default_rng([seed, shape.n_series, shape.days])
    users, ts, vals, spikes = [], [], [], []
    hours = shape.days * 24
    h = np.arange(hours)
    for s in range(shape.n_series):
        level = rng.uniform(200.0, 800.0)
        daily = 0.25 * level * np.sin(2 * np.pi * (h % 24) / 24 + rng.uniform(0, 2 * np.pi))
        weekly = np.where((h // 24) % 7 >= 5, -0.15 * level, 0.0)
        noise = rng.normal(0.0, 0.03 * level, hours)
        v = level + daily + weekly + noise
        spike = rng.random(hours) < shape.spike_share
        v = v + spike * rng.choice([-1.0, 1.0], hours) * 0.6 * level
        keep = rng.random(hours) >= shape.gap_share
        keep[0] = True  # every series keeps its first hour
        users.append(np.full(keep.sum(), s, dtype=np.int64))
        ts.append(EPOCH_US + h[keep].astype(np.int64) * HOUR_US)
        vals.append(v[keep])
        spikes.append(spike[keep])
    user = np.concatenate(users)
    ts_us = np.concatenate(ts)
    value = np.concatenate(vals)
    is_spike = np.concatenate(spikes)
    # arrival order = time order across all series
    order = np.lexsort((user, ts_us))
    user, ts_us, value, is_spike = user[order], ts_us[order], value[order], is_spike[order]
    nulls = rng.random(len(value)) < shape.null_share
    value = np.where(nulls, np.nan, value)
    # duplicates: the same (user, ts) with another value, arriving after
    # every original row
    dup = np.flatnonzero(rng.random(len(value)) < shape.dup_share)
    if len(dup):
        user = np.concatenate([user, user[dup]])
        ts_us = np.concatenate([ts_us, ts_us[dup]])
        value = np.concatenate([value, value[dup] * rng.uniform(0.9, 1.1, len(dup))])
        is_spike = np.concatenate([is_spike, np.zeros(len(dup), dtype=bool)])
    return {
        "event_id": np.arange(len(user), dtype=np.int64),
        "user_id": user,
        "ts_us": ts_us,
        "value": value,
        "is_spike": is_spike,
    }


def _table(cols: dict[str, np.ndarray], lo: int, hi: int):
    import pyarrow as pa

    v = cols["value"][lo:hi]
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"][lo:hi]),
            "ts": pa.array(cols["ts_us"][lo:hi], type=pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols["user_id"][lo:hi]),
            "value": pa.array(v, mask=np.isnan(v)),
            "is_spike": pa.array(cols["is_spike"][lo:hi]),
        }
    )


def write_input(shape: Shape, seed: int, out_dir: str) -> dict:
    """Write ``events.parquet`` (one file) or, when ``shape.files`` > 1,
    ``stream/part-NNNN.parquet`` (equal, time-ordered slices) under
    ``out_dir``, once; later calls reuse the files. Returns the manifest
    (shape, seed, row count, digest)."""
    import pyarrow.parquet as pq

    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out_dir + ".tmp"
    if os.path.exists(tmp):
        import shutil

        shutil.rmtree(tmp)
    cols = make_series(shape, seed)
    n = len(cols["event_id"])
    if shape.files > 1:
        os.makedirs(os.path.join(tmp, "stream"))
        bounds = np.linspace(0, n, shape.files + 1).astype(int)
        for i in range(shape.files):
            pq.write_table(
                _table(cols, bounds[i], bounds[i + 1]),
                os.path.join(tmp, "stream", f"part-{i:04d}.parquet"),
            )
    else:
        os.makedirs(tmp)
        pq.write_table(_table(cols, 0, n), os.path.join(tmp, "events.parquet"))
    manifest = {
        "shape": asdict(shape),
        "seed": seed,
        "rows": int(n),
        "series": shape.n_series,
        "spikes": int(cols["is_spike"].sum()),
        "digest": input_digest(cols),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, out_dir)
    return manifest


def input_key(name: str, shape: Shape, seed: int) -> str:
    """Cache directory name of one input: workload, seed and a hash of the
    shape, so a changed shape never reuses stale files."""
    h = hashlib.sha256(json.dumps(asdict(shape), sort_keys=True).encode())
    return f"{name}-seed{seed}-{h.hexdigest()[:8]}"


def input_digest(cols: dict[str, np.ndarray]) -> str:
    """SHA-256 over every generated column, in a fixed order."""
    h = hashlib.sha256()
    for name in sorted(cols):
        h.update(name.encode())
        h.update(np.ascontiguousarray(cols[name]).tobytes())
    return h.hexdigest()[:16]


def read_events(out_dir: str):
    """The generated events as one pandas frame (for reference checks)."""
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "events.parquet")
    if not os.path.exists(path):
        path = os.path.join(out_dir, "stream")
    return pq.read_table(path).to_pandas()
