"""Seeded synthetic ``events`` table in the fixture schema.

Both workloads derive everything from the ``events`` parquet table,
laid out like the fixture tables of ``TESTDATA.md``
(``<dir>/events.parquet``). The benchmark writes its own copy from
``--seed`` so a run reads nothing outside its checkout, and the same
seed gives the same bytes. The shape follows the fixtures: events span
30 days of January 2024 with about 13 ticks per (user, event type)
coin, and values are exponential with mean 50 and at least 0.01, as in
the sf0.001 and sf0.01 fixtures (a 5-minute tick whose volumes sum to 0
makes ``sources.envelope.build_envelopes`` divide by zero).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
SPAN_US = 30 * 86_400_000_000
ROWS_PER_USER = 66  # 5 event types x ~13 ticks, as in the fixtures


def events(rng: np.random.Generator, n: int) -> pa.Table:
    n_users = max(n // ROWS_PER_USER, 1)
    ts = np.sort(rng.integers(START_US, START_US + SPAN_US, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=n)]
            ),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, size=n), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def write_events(out_dir: str, seed: int, n_events: int) -> str:
    """Write the seeded ``events`` table under ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    pq.write_table(events(rng, n_events), os.path.join(out_dir, "events.parquet"))
    return out_dir
