"""Seeded input generator shared by the three workloads.

`events_table` builds the `events` table with the testdata schema and the
invariants the program's gates and DuckDB oracles rely on: unique
microsecond timestamps (event_id in ts order), five event types, a JSON
`props` with an integer `k`. `live_stream` builds the live wearable feed:
accelerometer samples at a fixed period whose norm swings across the
step threshold, so the falling-edge filter emits steps. Both are pure
functions of the seed.
"""
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
DAY_US = 86400 * 10**6
START_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z, as in the testdata
EVENTS_PER_USER = 67           # testdata ratio (100k events, 1500 users)
THRESHOLD = 100                # graft.examples.Wearable.Threshold


def events_table(seed: int, n: int, days: int = 30) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    # sorted draws plus a rank offset: strictly increasing, so unique
    offs = np.sort(rng.integers(0, days * DAY_US - n, n)) + np.arange(n)
    users = max(1, n // EVENTS_PER_USER)
    kinds = rng.integers(0, len(EVENT_TYPES), n)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(START_US + offs, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in kinds], type=pa.string()),
        "value": pa.array(value, type=pa.float64()),
        "props": pa.array([f'{{"k": {i}}}' for i in k], type=pa.string()),
    })


def write_events(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=len(table) or 1)


def table_digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        for chunk in table.column(name).chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()


def live_stream(seed: int, rate: int, seconds: float, prime: int = 20) -> dict:
    """`prime` events for set-up, then `seconds` of events at `rate`/s."""
    if 10**6 % rate:
        raise ValueError(f"rate {rate}/s must divide 1e6 (whole-µs period)")
    n = prime + int(rate * seconds)
    rng = np.random.default_rng([seed, 2])
    # one step per cycle of 8-12 samples: the norm swings 100 ± 30
    cycle = rng.integers(8, 13, n // 8 + 1)
    phase = np.concatenate([np.arange(c) / c for c in cycle])[:n] * 2 * np.pi
    mag = THRESHOLD + 30 * np.sin(phase) + rng.normal(0, 3, n)
    x = np.rint(mag * 0.6).astype(np.int64) + rng.integers(-1, 2, n)
    y = np.rint(mag * 0.48).astype(np.int64) + rng.integers(-1, 2, n)
    z = np.rint(mag * 0.64).astype(np.int64) + rng.integers(-1, 2, n)
    vibe = (rng.random(n) < 0.001).astype(np.int64)
    norm = np.floor(np.sqrt((x * x + y * y + z * z)[vibe == 0])).astype(np.int64)
    steps = int(np.sum((norm[:-1] > THRESHOLD) & (norm[1:] <= THRESHOLD)))
    return {
        "off_us": np.arange(n, dtype=np.int64) * (10**6 // rate),
        "x": x, "y": y, "z": z, "vibe": vibe, "prime": prime,
        "sel_vibe": float(1 - vibe.mean()),
        "sel_step": steps / max(1, len(norm)),
    }


def write_live(live: dict, path: str) -> None:
    n = len(live["off_us"])
    with open(path, "w") as f:
        f.write(f"{n} {live['prime']} {live['sel_vibe']!r} {live['sel_step']!r}\n")
        cols = zip(live["off_us"], live["x"], live["y"], live["z"], live["vibe"])
        f.writelines(f"{o} {a} {b} {c} {v}\n" for o, a, b, c, v in cols)


def live_digest(live: dict) -> str:
    h = hashlib.sha256()
    for key in ("off_us", "x", "y", "z", "vibe"):
        h.update(np.ascontiguousarray(live[key]).tobytes())
    return h.hexdigest()
