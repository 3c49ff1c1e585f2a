"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, GEN_VERSION)``.  An input
directory is reused only when its ``_COMPLETE`` marker, written last,
names the same seed and generator version; anything else (a missing
marker, a crash-truncated directory, an older generator) is deleted and
rebuilt.  Each workload keeps one input directory, so disk use stays
bounded however many seeds are run.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

GEN_VERSION = 1

# intsort: ~10 MB of space-delimited ints, between the reference's two
# largest published inputs (2 MB and 20 MB, BASELINE.md); 20 MB costs
# twice the run time the benchmark's run budget leaves for this workload.
INTSORT_VALUES = 950_000
INTSORT_REPEAT_POOL = 5_000  # values drawn from here repeat many times
INTSORT_EDGES = (999_999, 1_000_000, -1, 0, -(2**31), 2**31 - 1)

# stream: base events replicated x10 with shifted event ids; a seeded
# half of the replicas fold user_id onto a few hot users.
STREAM_BASE_EVENTS = 5_000
STREAM_USERS = 1_500
STREAM_CUSTOMERS = 15_000
STREAM_REPLICAS = 10
STREAM_HOT_USERS = 50
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
MKT_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_EPOCH_2024_US = 1_704_067_200_000_000
_DAYS_30_US = 30 * 86_400 * 1_000_000


def _ready(path: str, seed: int) -> bool:
    try:
        with open(os.path.join(path, "_COMPLETE")) as f:
            tag = json.load(f)
    except (OSError, ValueError):
        return False
    return tag == {"seed": seed, "version": GEN_VERSION}


def _fresh_dir(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)


def _mark(path: str, seed: int, props: dict) -> None:
    with open(os.path.join(path, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    with open(os.path.join(path, "_COMPLETE"), "w") as f:
        json.dump({"seed": seed, "version": GEN_VERSION}, f)


def properties(path: str) -> dict:
    with open(os.path.join(path, "properties.json")) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# intsort
# --------------------------------------------------------------------------


def intsort_values(seed: int, n: int = INTSORT_VALUES) -> np.ndarray:
    """int32 values over the full range: mostly uniform, a share drawn
    from a small pool (repeated values), and every edge value
    (including the reference's 999999 merge sentinel and 1000000)
    present several times."""
    rng = np.random.default_rng([seed, 1])
    vals = rng.integers(-(2**31), 2**31, n, dtype=np.int64)
    pool = rng.integers(-(2**31), 2**31, INTSORT_REPEAT_POOL, dtype=np.int64)
    rep = rng.random(n) < 0.2
    vals[rep] = pool[rng.integers(0, INTSORT_REPEAT_POOL, int(rep.sum()))]
    edges = np.repeat(np.array(INTSORT_EDGES, dtype=np.int64), 7)
    vals[rng.choice(n, edges.size, replace=False)] = edges
    return vals.astype(np.int32)


def repeated_share(vals: np.ndarray) -> float:
    """Share of values that repeat an earlier value."""
    return 1.0 - np.unique(vals).size / max(vals.size, 1)


def ensure_intsort(root: str, seed: int) -> str:
    """``root/ints.txt``: one line of space-delimited ints, the
    reference's native job format."""
    if _ready(root, seed):
        return root
    _fresh_dir(root)
    vals = intsort_values(seed, INTSORT_VALUES)
    path = os.path.join(root, "ints.txt")
    with open(path, "w") as f:
        f.write(" ".join(map(str, vals.tolist())))
    _mark(root, seed, {
        "values": int(vals.size),
        "bytes": os.path.getsize(path),
        "repeated_value_share": round(repeated_share(vals), 6),
        "negative_share": round(float((vals < 0).mean()), 6),
        "sentinel_values": int(np.isin(vals, (999_999, 1_000_000)).sum()),
    })
    return root


# --------------------------------------------------------------------------
# stream
# --------------------------------------------------------------------------


def stream_events(seed: int, base: int = STREAM_BASE_EVENTS,
                  replicas: int = STREAM_REPLICAS) -> dict[str, np.ndarray]:
    """Columns of the replicated events table, in event_id order.

    The base stream spans 30 days of January 2024 over ``STREAM_USERS``
    users.  Replica ``i`` shifts event_id by ``i * base`` and keeps
    timestamps and payloads; the seeded hot half maps each user onto
    one of ``STREAM_HOT_USERS`` seeded hot users."""
    rng = np.random.default_rng([seed, 2])
    ts = _EPOCH_2024_US + np.sort(rng.integers(0, _DAYS_30_US, base))
    user = rng.integers(0, STREAM_USERS, base)
    etype = rng.integers(0, len(EVENT_TYPES), base)
    value = np.round(rng.exponential(50.0, base), 2)
    k = rng.integers(0, 100, base)
    hot_users = rng.choice(STREAM_USERS, STREAM_HOT_USERS, replace=False)
    fold = hot_users[rng.integers(0, STREAM_HOT_USERS, STREAM_USERS)]
    hot_replicas = set(rng.choice(replicas, replicas // 2, replace=False).tolist())
    users = [fold[user] if i in hot_replicas else user for i in range(replicas)]
    return {
        "event_id": np.arange(base * replicas, dtype=np.int64),
        "ts": np.tile(ts, replicas),
        "user_id": np.concatenate(users).astype(np.int64),
        "event_type": np.tile(etype, replicas),
        "value": np.tile(value, replicas),
        "k": np.tile(k, replicas),
        "hot_users": np.sort(hot_users),
    }


def hot_user_share(user_id: np.ndarray, hot_users: np.ndarray) -> float:
    return float(np.isin(user_id, hot_users).mean())


def _permuted(table, rng: np.random.Generator):
    return table.take(rng.permutation(table.num_rows))


def ensure_stream(root: str, seed: int) -> str:
    """``root/events.parquet`` (x10, hot-user fold) and
    ``root/customer.parquet``, each in a seeded row order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if _ready(root, seed):
        return root
    _fresh_dir(root)
    ev = stream_events(seed, STREAM_BASE_EVENTS)
    rng = np.random.default_rng([seed, 3])
    events = pa.table({
        "event_id": ev["event_id"],
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": ev["user_id"],
        "event_type": pa.array(np.array(EVENT_TYPES)[ev["event_type"]]),
        "value": ev["value"],
        "props": pa.array([f'{{"k": {k}}}' for k in ev["k"].tolist()]),
    })
    pq.write_table(_permuted(events, rng), os.path.join(root, "events.parquet"))
    n = STREAM_CUSTOMERS
    customer = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": pa.array(
            np.array(MKT_SEGMENTS)[rng.integers(0, len(MKT_SEGMENTS), n)]
        ),
    })
    pq.write_table(_permuted(customer, rng), os.path.join(root, "customer.parquet"))
    _mark(root, seed, {
        "events": int(events.num_rows),
        "base_events": STREAM_BASE_EVENTS,
        "replicas": STREAM_REPLICAS,
        "hot_users": STREAM_HOT_USERS,
        "hot_user_event_share": round(
            hot_user_share(ev["user_id"], ev["hot_users"]), 6
        ),
        "customers": n,
        "bytes": sum(
            os.path.getsize(os.path.join(root, f))
            for f in ("events.parquet", "customer.parquet")
        ),
    })
    return root
