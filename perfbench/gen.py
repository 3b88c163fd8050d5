"""Seeded input generators. The seed picks names, hosts, timestamps,
payload values and row order; the per-batch event counts that decide
which rules fire are fixed, so every seed does the same amount of
engine work and the counters repeat across seeds.

Events are plain tuples ``(event_id, ts_us, source, details)`` for the
models, written as parquet (``event_id`` int64, ``ts`` timestamp[us],
``source`` string, ``details`` JSON string) for the program.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

HOUR_US = 3600 * 10**6
# naive timestamps, read by the program as UTC (session time zone)
EPOCH_US = int(datetime(2026, 1, 5, tzinfo=timezone.utc).timestamp()) * 10**6


def _names(rng: random.Random, prefix: str, n: int) -> list[str]:
    tag = f"{rng.getrandbits(24):06x}"
    return [f"{prefix}{tag}{i:02d}" for i in range(n)]


def _stamp(rng: random.Random, hour: int, rows: list, id_base: int) -> list[tuple]:
    """Shuffle rows (user, host, source) into one hour with unique,
    increasing timestamps; ids follow time order."""
    rng.shuffle(rows)
    offsets = sorted(rng.sample(range(HOUR_US), len(rows)))
    out = []
    for j, (user, host, source) in enumerate(rows):
        details = {"user_name": user, "host": host, "risk": rng.randrange(100)}
        out.append((id_base + j, EPOCH_US + hour * HOUR_US + offsets[j], source, details))
    return out


def write_events(events: list[tuple], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(
        {
            "event_id": pa.array([e[0] for e in events], pa.int64()),
            "ts": pa.array([e[1] for e in events], pa.timestamp("us")),
            "source": pa.array([e[2] for e in events], pa.string()),
            "details": pa.array([json.dumps(e[3]) for e in events], pa.string()),
        }
    )
    pq.write_table(table, path)


# ------------------------------------------------------------------ engine


def engine_batches(seed: int, n_batches: int, n_users: int = 24):
    """-> (batches, hosts). User i sends (7i+3k)%6 logins and
    2+(i+k)%3 views in batch k; the first four users send one heartbeat
    in batch 0 only."""
    rng = random.Random(seed)
    users = _names(rng, "u", n_users)
    hosts = _names(rng, "h", 4)
    batches = []
    for k in range(n_batches):
        rows = []
        for i, user in enumerate(users):
            host = hosts[i % 4]
            rows += [(user, host, "login")] * ((7 * i + 3 * k) % 6)
            rows += [(user, host, "view")] * (2 + (i + k) % 3)
            if k == 0 and i < 4:
                rows.append((user, host, "heartbeat"))
        batches.append(_stamp(rng, k, rows, k * 100_000))
    return batches, hosts


# -------------------------------------------------------------------- lake


def lake_events(seed: int, n_rows: int = 10_000, n_users: int = 150) -> pa.Table:
    """An ``events`` table with the schema, size and distributions of the
    catalog's sf0.01 test lake: ``event_id`` in time order, ``ts``
    (naive timestamp[us], all distinct) uniform over the 30 days from
    2024-01-01, ``user_id`` uniform over the users, ``event_type``
    uniform over 5 kinds, ``value`` exponential with mean 50 rounded to
    cents, ``props`` = ``{"k": <0..99>}``."""
    rng = random.Random(seed)
    start_us = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 10**6
    ts = sorted(rng.sample(range(30 * 24 * HOUR_US), n_rows))
    kinds = ["signup", "view", "click", "purchase", "error"]
    return pa.table(
        {
            "event_id": pa.array(range(n_rows), pa.int64()),
            "ts": pa.array([start_us + t for t in ts], pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(n_users) for _ in ts], pa.int64()),
            "event_type": pa.array([rng.choice(kinds) for _ in ts], pa.string()),
            "value": pa.array([round(rng.expovariate(1 / 50), 2) for _ in ts], pa.float64()),
            "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in ts], pa.string()),
        }
    )
