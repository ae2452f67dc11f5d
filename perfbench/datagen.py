"""Seeded input generators. logflow only ever sees the files written here.

``write_events`` writes an ``events`` table with the schema and value
distribution of the synthetic test table in TESTDATA.md: one row group,
ids 0..n-1, timestamps sorted over January 2024, five uniform event types,
exponential values with mean 50 rounded to cents, ``{"k": 0..99}`` props,
and 1.5 users per 100 events. ``user_skew`` replaces that table's uniform
user draw with a Zipf law of that exponent (0 keeps it uniform).

``record_table`` builds Kafka-shaped record batches for the stream: a
Zipf-skewed key, an integer value, a ``b3`` header with fresh trace and
span ids, and ``ts`` set to the creation time the caller passes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
JAN_2024_US = 1_704_067_200_000_000
MONTH_US = 30 * 86_400 * 1_000_000

#: distinct record keys of the stream and their Zipf exponent
STREAM_KEYS = 10_000
STREAM_KEY_SKEW = 1.1


def zipf_draw(rng: np.random.Generator, n_items: int, skew: float, size: int) -> np.ndarray:
    """``size`` draws from 0..n_items-1 with P(rank r) ~ r**-skew; ranks are
    shuffled over the ids so the hot ids are not simply the smallest."""
    weights = np.arange(1, n_items + 1, dtype=np.float64) ** -skew
    ranks = rng.choice(n_items, size=size, p=weights / weights.sum())
    return rng.permutation(n_items)[ranks]


def write_events(path: str, n: int, seed: int, user_skew: float) -> None:
    rng = np.random.default_rng(seed)
    n_users = max(1, n * 3 // 200)
    users = zipf_draw(rng, n_users, user_skew, n)
    ts = np.sort(rng.integers(0, MONTH_US, n)) + JAN_2024_US
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(props, pa.string()),
        }
    )
    pq.write_table(table, path)


HEADER_TYPE = pa.list_(
    pa.struct([pa.field("key", pa.string(), nullable=False), pa.field("value", pa.binary())])
)


def record_table(rng: np.random.Generator, first_offset: int, n: int, created_s: float) -> pa.Table:
    """``n`` records with offsets ``first_offset..``, all stamped ``created_s``
    (epoch seconds). Column types follow ``logflow.model.RECORD_SCHEMA``."""
    keys = zipf_draw(rng, STREAM_KEYS, STREAM_KEY_SKEW, n)
    hexes = rng.bytes(32 * n).hex()  # 16 trace-id bytes + 8 span-id bytes + 8 unused
    b3 = [f"{hexes[i:i + 32]}-{hexes[i + 32:i + 48]}-1" for i in range(0, 64 * n, 64)]
    header = pa.StructArray.from_arrays(
        [pa.array(["b3"] * n, pa.string()), pa.array(b3, pa.string()).cast(pa.binary())],
        fields=list(HEADER_TYPE.value_type),
    )
    headers = pa.ListArray.from_arrays(pa.array(np.arange(n + 1, dtype=np.int32)), header)
    return pa.table(
        {
            "key": pa.array([f"user-{k}" for k in keys.tolist()], pa.string()),
            "value": pa.array(np.floor(rng.exponential(50.0, n)).astype(np.int64)),
            "topic": pa.array(["numbers"] * n, pa.string()),
            "partition": pa.array(np.zeros(n, dtype=np.int32)),
            "offset": pa.array(np.arange(first_offset, first_offset + n, dtype=np.int64)),
            "ts": pa.array(
                np.full(n, int(created_s * 1_000_000), dtype=np.int64),
                pa.timestamp("us", tz="UTC"),
            ),
            "headers": headers.cast(HEADER_TYPE),
        }
    )
