"""Seeded inputs for the benchmark workloads.

The engine's registry queries read a small star-schema catalog (one
parquet file per table).  This module writes a synthetic catalog of the
same schema and value distributions as the repository's fixture data, from
nothing but a seed:

- ``events``: play/click events over January 2024, sorted by time, with
  user ids shifted by a seeded key offset inside the customer key range;
- ``customer`` / ``nation`` / ``region``: the dimension tables the report
  chains join against;
- ``documents``: seeded token sequences over a 30-word vocabulary; the
  seed also chooses the near-duplicate share (a copy of an earlier
  document plus a trailing ``dup`` token) — how much work the dedup
  queries' candidate pairs share.

Every table's physical row order is a seeded shuffle, so a query that
silently depends on file order fails its oracle.  The same seed gives
byte-identical files.

``play_events`` builds the realtime workload's arrival schedule: events at
a fixed rate, each one (user, channel, device, second).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
MONTH_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC
MONTH_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated catalog."""

    events: int
    users: int
    customers: int
    documents: int


# the row counts of the fixture catalogs at each scale factor
SCALES = {
    "sf0.001": Scale(events=1_000, users=15, customers=150, documents=500),
    "sf0.01": Scale(events=10_000, users=150, customers=1_500, documents=500),
    "sf0.1": Scale(events=100_000, users=1_500, customers=15_000, documents=5_000),
}


def _write(out_dir: str, name: str, table: pa.Table, rng: np.random.Generator) -> None:
    order = rng.permutation(table.num_rows)
    pq.write_table(table.take(pa.array(order)), os.path.join(out_dir, f"{name}.parquet"))


def write_catalog(out_dir: str, seed: int, scale: Scale) -> dict[str, int]:
    """Write the catalog tables into ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    nc = scale.customers
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    ne = scale.events
    # user ids are shifted by a seeded offset but stay inside the customer
    # key range, so the user -> customer dimension joins keep matching
    user_off = int(rng.integers(0, max(1, nc - scale.users - 1)))
    ts = np.sort(MONTH_START_US + rng.integers(0, MONTH_US, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user_off + rng.integers(0, scale.users, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.clip(np.round(rng.exponential(50.0, ne), 2), 0.01, 490.02),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = pa.table(_documents(rng, scale.documents))
    for name, table in tables.items():
        _write(out_dir, name, table, rng)
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> dict:
    dup_share = float(rng.uniform(0.03, 0.12))
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    doc_off = int(rng.integers(0, 1000)) * 20  # keeps doc_id % 20 == source
    return {
        "doc_id": pa.array(doc_off + np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


@dataclass(frozen=True)
class PlayEvents:
    """An open-loop arrival schedule: row i arrives ``arrival_s[i]`` after
    the run starts.  ``sec`` is non-decreasing in arrival order, so the
    newest row per user is the one with the greatest (sec, event_id)."""

    arrival_s: np.ndarray
    table: pa.Table  # event_id, user_id, channel_id, device_id, sec


PLAY_BASE_SEC = 1_704_067_200


def play_events(
    seed: int, rate: float, seconds: float, users: int, channels: int,
    first_id: int = 0, base_sec: int = PLAY_BASE_SEC,
) -> PlayEvents:
    rng = np.random.default_rng([seed, first_id])
    n = int(round(rate * seconds))
    arrival = np.arange(n) / rate
    # channel popularity is skewed (a few channels hold most viewers)
    weights = 1.0 / np.arange(1, channels + 1) ** 1.1
    table = pa.table(
        {
            "event_id": pa.array(first_id + np.arange(n), pa.int64()),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "channel_id": pa.array(rng.choice(channels, n, p=weights / weights.sum()), pa.int64()),
            "device_id": pa.array(rng.integers(0, 4, n), pa.int64()),
            "sec": pa.array(base_sec + 1 + arrival.astype(np.int64), pa.int64()),
        }
    )
    return PlayEvents(arrival, table)


def base_state(seed: int, users: int, channels: int) -> pa.Table:
    """One row per user — the state the realtime tables start from (every
    user last seen on some channel, before any play event)."""
    rng = np.random.default_rng([seed, 7])
    return pa.table(
        {
            "event_id": pa.array(-1 - np.arange(users), pa.int64()),
            "user_id": pa.array(np.arange(users), pa.int64()),
            "channel_id": pa.array(rng.integers(0, channels, users), pa.int64()),
            "device_id": pa.array(rng.integers(0, 4, users), pa.int64()),
            "sec": pa.array(np.full(users, PLAY_BASE_SEC - 3600), pa.int64()),
        }
    )
